"""Near-duplicate detection for training-data pipelines (SURVEY §2.10).

Four standard recipes, all engine-portable (md5-derived hashes, never
Spark's Murmur3 ``hash`` — SURVEY §2.7 portability note):

* :func:`jaccard_pairs` — exact word-n-gram Jaccard similarity join.
* :func:`minhash_signatures` + :func:`lsh_candidates` — MinHash + LSH
  banding: the scale path. k md5-derived hash functions per shingle,
  per-document min, band signatures, bucket self-join.
* :func:`simhash` — 16-bit SimHash per document (sign-aggregated token
  hash bits); equal values are near-dup candidates.
* :func:`embedding_neardup_pairs` — cosine-threshold self-join over an
  embedding column (brute force; LSH-bucketed variant in similarity.py).

Scale notes: the exact Jaccard join explodes on shingles — its self-join
is quadratic in documents-per-shingle, so at 100 TB drop "stop
shingles" (appearing in more than ``max_doc_freq`` docs) first; that's
both a correctness improvement (boilerplate shingles carry no signal)
and the only way the join stays bounded. MinHash-LSH replaces the
quadratic join with a per-band bucket join — candidates only — which is
the recipe that actually scales; tune (k, bands) for the target
similarity threshold via the standard S-curve.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from climate_anomaly_bigdata_pipeline_spark.functions import ident
from climate_anomaly_bigdata_pipeline_spark.operators.text import tokens_expr


def md5_hash32(col: Column, seed: int) -> Column:
    """Portable 32-bit hash: first 8 hex digits of md5(seed:value).
    Identical in any engine with md5 + hex parsing (DuckDB:
    ``CAST(concat('0x', substr(md5(...), 1, 8)) AS BIGINT)``)."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}:"), col)), 1, 8), 16, 10
    ).cast("long")


def shingles_expr(text_col: str | Column = "text", n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column (empty array when
    the document has fewer than n tokens)."""
    toks = tokens_expr(text_col)
    sh = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
    )
    return F.when(F.size(toks) >= n, F.array_distinct(sh)).otherwise(
        F.array().cast("array<string>")
    )


def exploded_shingles(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Explode documents into (id, shingle) rows.

    The input is repartitioned first: a document table often arrives as
    few large-row partitions (one small parquet file here; at 100 TB,
    fat skewed splits), and the ~tokens× explosion inherits that
    partitioning — leaving most cores idle for the most expensive step.
    Spreading rows before the explode costs one narrow-ish shuffle of
    the small pre-explosion data and parallelizes everything after.
    """
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(parallelism, id_col).select(
        F.col(id_col), F.explode(shingles_expr(text_col, n)).alias("shingle")
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
    metric: str = "jaccard",
) -> DataFrame:
    """Exact n-gram set-similarity join: pairs (id1 < id2) with
    ``metric`` >= threshold, where ``metric`` is ``"jaccard"``
    (|S1∩S2| / |S1∪S2|) or ``"overlap"`` (Szymkiewicz-Simpson,
    |S1∩S2| / min(|S1|,|S2|) — scores a full containment 1.0 however
    different the sizes, which is how quote/subset duplication hides
    from Jaccard). The output column is named after the metric.

    ``max_doc_freq`` drops shingles shared by more than that many
    documents before the pair join — the stop-shingle guard that keeps
    the join from going quadratic on boilerplate at scale.
    """
    if metric not in ("jaccard", "overlap"):
        raise ValueError(f"metric: {metric!r}")
    from pyspark.sql import Window

    sh = exploded_shingles(df, id_col, text_col, n)
    if max_doc_freq is not None:
        w_df = Window.partitionBy("shingle")
        sh = sh.withColumn("__df", F.count(F.lit(1)).over(w_df)).filter(
            F.col("__df") <= max_doc_freq
        ).drop("__df")
    # Carry each document's shingle count on the exploded rows via a
    # window (one shuffle by doc) instead of a separate sizes branch +
    # two post-join lookups: the shingle lineage is evaluated once per
    # join side rather than four times, and two joins disappear.
    w_doc = Window.partitionBy(id_col)
    shn = sh.withColumn("n", F.count(F.lit(1)).over(w_doc))
    a = shn.select(F.col(id_col).alias("id1"), "shingle", F.col("n").alias("n1"))
    b = shn.select(F.col(id_col).alias("id2"), "shingle", F.col("n").alias("n2"))
    shared = (
        a.join(b, "shingle")
        .filter(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(
            F.count(F.lit(1)).alias("shared"),
            F.max("n1").alias("n1"),
            F.max("n2").alias("n2"),
        )
    )
    denom = (
        (F.col("n1") + F.col("n2") - F.col("shared"))
        if metric == "jaccard"
        else F.least("n1", "n2")
    )
    score = F.col("shared").cast("double") / denom.cast("double")
    return (
        shared.withColumn(metric, score)
        .filter(F.col(metric) >= threshold)
        .select("id1", "id2", "shared", "n1", "n2", metric)
    )


#: Prime just above 2^32 for the affine MinHash permutation family.
MINHASH_PRIME = 4_294_967_311


def minhash_params(k: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) affine coefficients derived driver-side via
    hashlib md5 — reproducible in any engine as plain literals.
    a < 2^30 keeps a*h < 2^62: no BIGINT overflow in either engine."""
    import hashlib

    params = []
    for i in range(k):
        ha = hashlib.md5(f"{seed}:a:{i}".encode()).hexdigest()
        hb = hashlib.md5(f"{seed}:b:{i}".encode()).hexdigest()
        a = (int(ha[:8], 16) % ((1 << 30) - 1)) + 1
        b = int(hb[:8], 16)
        params.append((a, b))
    return params


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    n: int = 3,
) -> DataFrame:
    """k-permutation MinHash signature per document.

    One md5 per shingle (the expensive part), then k cheap affine
    permutations ``(a_i·h + b_i) mod P`` — the classic universal-hash
    family — instead of k md5 evaluations (~k× less hashing in the hot
    path). One explode + one grouped aggregation: the k min-aggs share
    a single shuffle and combine map-side.
    """
    sh = exploded_shingles(df, id_col, text_col, n)
    h0 = md5_hash32(F.col("shingle"), 0)
    aggs = [
        F.min((F.lit(a) * h0 + F.lit(b)) % F.lit(MINHASH_PRIME)).alias(f"mh_{i}")
        for i, (a, b) in enumerate(minhash_params(k))
    ]
    return sh.groupBy(id_col).agg(*aggs)


def _lsh_stacked(
    sig: DataFrame, id_col: str, k: int, bands: int
) -> DataFrame:
    """(id, band_idx, band_val) rows: one md5 band key per signature
    slice, exploded so every band lands in the same keyed shuffle."""
    r = k // bands
    band_cols = [
        F.md5(
            F.concat_ws(",", *[F.col(f"mh_{b * r + j}") for j in range(r)])
        ).alias(f"band_{b}")
        for b in range(bands)
    ]
    banded = sig.select(F.col(id_col), *band_cols)
    return banded.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"), F.col(f"band_{b}").alias("band_val")
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bv"),
    ).select(F.col(id_col), F.col("bv.band_idx"), F.col("bv.band_val"))


def lsh_candidates(
    sig: DataFrame,
    id_col: str = "doc_id",
    k: int = 16,
    bands: int = 4,
    max_bucket_size: int = 1024,
) -> DataFrame:
    """LSH banding over MinHash signatures: documents sharing any band
    (r = k/bands consecutive signature values) are candidate pairs.

    The band value is md5 of the comma-joined row — a string key that
    buckets identically in any engine. Output: distinct (id1 < id2).

    Pairs are generated by grouping ids per (band, value) bucket and
    expanding combinations in-row, not by self-joining the banded
    table: a self-join would recompute the (expensive) signature
    lineage once per branch and add a shuffle join; the groupBy shape
    computes signatures once and shuffles once.

    ``max_bucket_size`` bounds the per-bucket membership BEFORE the
    ``collect_list`` (row_number over the same keys — the window and
    the groupBy share one exchange), so a degenerate corpus (thousands
    of identical documents hashing into one bucket) cannot OOM a task
    or go quadratic in-row: each truncated bucket contributes at most
    C(cap, 2) pairs from its ``cap`` smallest ids. Members of such a
    bucket are mutual near-dups of the retained ids anyway — a
    giant bucket means exact-dup-level redundancy that the exact-hash
    dedup pass should have removed first.
    """
    from pyspark.sql import Window

    stacked = _lsh_stacked(sig, id_col, k, bands)
    w = Window.partitionBy("band_idx", "band_val").orderBy(id_col)
    buckets = (
        stacked.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= max_bucket_size)
        .groupBy("band_idx", "band_val")
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
    )
    ids = F.col("ids")
    pairs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + F.lit(2), F.greatest(F.size(ids) - i - 1, F.lit(0))),
                lambda y: F.struct(x.alias("id1"), y.alias("id2")),
            ),
        )
    )
    return (
        buckets.filter(F.size(ids) > 1)
        .select(F.explode(pairs).alias("p"))
        .select(F.col("p.id1").alias("id1"), F.col("p.id2").alias("id2"))
        .distinct()
    )


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: Sequence[str],
    max_dist: int = 2,
) -> DataFrame:
    """Blocked entity-resolution join: pairs (id1 < id2) within the
    same block whose ``text_col`` values are within ``max_dist``
    Levenshtein edits.

    Blocking is what makes fuzzy matching survive scale: the self-join
    key is the block, so candidate pairs are Σ|block|² instead of N² —
    choose blocks (prefix, phonetic key, attribute tuple) so the
    biggest block stays task-sized, exactly like the LSH band buckets.
    ``levenshtein`` is a JVM builtin (no UDF); its cost is
    O(len²) per pair, so never run it unblocked.
    """
    a = df.select(
        *block_cols,
        F.col(id_col).alias("id1"),
        F.col(text_col).alias("s1"),
    )
    b = df.select(
        *block_cols,
        F.col(id_col).alias("id2"),
        F.col(text_col).alias("s2"),
    )
    return (
        a.join(b, list(block_cols))
        .filter(F.col("id1") < F.col("id2"))
        # Thresholded levenshtein: the 3-arg form abandons the DP as
        # soon as the running minimum exceeds max_dist (returns -1),
        # and returns the EXACT distance otherwise — one early-exit DP
        # per pair replaces the full O(len²) one (measured 1.5x on
        # 18-char names; grows with string length). A length-gap
        # prefilter was also tried and measured a net LOSS (extra
        # filter stage cost > DP saved on short strings).
        .withColumn("dist", F.levenshtein("s1", "s2", max_dist))
        .filter(F.col("dist") >= 0)
        .select(*block_cols, "id1", "id2", "s1", "s2", "dist")
    )


def _offset_tuple_feasible(ds: tuple[int, ...], delta: int, k: int) -> bool:
    """Whether a tuple of per-segment shifts is realizable by ≤k edits.

    The cumulative shift (insertions-so-far − deletions-so-far) walks
    0 → d_1 → … → d_m → −Δ in ±1 steps; an interleaving with ``ups``
    up-steps needs ups insertions and ups+Δ deletions, total cost
    2·ups + Δ ≤ k. So the tuple is feasible iff the walk's minimum
    up-step count is ≤ ⌊(k−Δ)/2⌋ — an exact filter (e.g. it rejects
    (+1,−1): one segment shifted right and a later one left needs 2
    insertions + 2 deletions). Enumerating only feasible tuples cuts
    both probe fan-out and false candidates."""
    seq = [0, *ds, -delta]
    ups = sum(max(b - a, 0) for a, b in zip(seq, seq[1:]))
    return ups <= (k - delta) // 2


def segment_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: Sequence[str],
    max_dist: int = 2,
    prefix_len: int | None = None,
    n_segments: int | None = None,
    min_matches: int = 1,
) -> DataFrame:
    """Distinct candidate pairs from :func:`_segment_candidates_raw` —
    use this to inspect/count the candidate set; the verifying join in
    :func:`edit_distance_pairs_segmented` uses the raw form and
    dedupes after the DP filter."""
    return _segment_candidates_raw(
        df, id_col, text_col, block_cols, max_dist=max_dist,
        prefix_len=prefix_len, n_segments=n_segments, min_matches=min_matches,
    ).distinct()


def _segment_candidates_raw(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: Sequence[str],
    max_dist: int = 2,
    prefix_len: int | None = None,
    n_segments: int | None = None,
    min_matches: int = 1,
) -> DataFrame:
    """Lossless candidate generator for :func:`edit_distance_pairs_segmented`
    — the PassJoin partition scheme (Li, Deng, Wang & Feng, "PassJoin: a
    partition-based method for similarity joins", VLDB 2011) with three
    adaptations:

    1. **Common-prefix stripping.** Levenshtein distance is invariant
       under removing a prefix shared by both strings, and a prefix
       shared by the WHOLE column (auto-detected from the min/max
       aggregate, or pinned via ``prefix_len``) is shared by every
       pair. Stripping it first matters on ID-like corpora
       ("Customer#000000042") where even-split segments would otherwise
       land on the constant prefix and match everything.
    2. **Tight shift windows.** For a pair with index length L, probe
       length M, Δ = L−M and cost ≤ k: insertions I and deletions D in
       an optimal alignment satisfy D − I = Δ and D + I ≤ k, so
       I ≤ ⌊(k−Δ)/2⌋ and D ≤ Δ + ⌊(k−Δ)/2⌋. An unbroken segment's
       occurrence shifts by (I_before − D_before) ∈ [−D_max, +I_max] —
       a window of ≤ k+1 offsets instead of the naive 2k+1.
    3. **Multi-segment pigeonhole.** ``n_segments`` (default k+1)
       contiguous segments and ≤k edits leave ≥ n_segments − k
       unbroken; with ``min_matches = m ≤ n_segments − k`` a true pair
       must match on some m-COMBINATION of segments, each within its
       window. The join key is that combination's concatenated
       contents — m segments multiply key entropy, which is what prunes
       low-entropy columns (short digit suffixes) that defeat any
       single-segment key.

    Completeness: each edit in an optimal alignment breaks at most one
    segment (a substitution/deletion edits a char inside one segment;
    an insertion lands strictly inside at most one segment's span), so
    ≥ n_segments − k ≥ m segments occur verbatim in the partner at
    offsets inside the windows above — and that
    (segment-combination, contents, L) key is emitted by both sides.
    Hence every true pair is a candidate.

    Cost: C(nseg, m) index rows and Σ_Δ C(nseg, m)·W(Δ)^m probe rows
    per string (k=2, nseg=4, m=2: 6 and 132), joined on high-entropy
    composite keys — at 100 TB this replaces the Σ|block|² quadratic
    candidate set with near-linear emissions, the same trade as the
    LSH band join. Returns (block_cols…, id1 < id2, s1, s2) with
    original (unstripped) texts, each candidate pair once.
    """
    from itertools import combinations, product

    k = max_dist
    nseg = n_segments if n_segments is not None else k + 1
    m = min_matches
    if nseg - k < m:
        raise ValueError(
            f"n_segments={nseg} with max_dist={k} guarantees only "
            f"{nseg - k} unbroken segments; min_matches={m} would miss pairs"
        )
    combos = list(combinations(range(nseg), m))
    # ONE pre-pass over the corpus computes both driver-side scalars:
    # the lexicographic min/max (whose LCP is the whole column's LCP)
    # and the distinct raw-text lengths (bounded to 10k via sort+slice;
    # stripped lengths are derived by subtracting p afterwards) —
    # previously two separate full-scan jobs.
    row = df.agg(
        F.min(text_col).alias("lo"),
        F.max(text_col).alias("hi"),
        F.slice(
            F.array_sort(F.collect_set(F.length(text_col))), 1, 10_001
        ).alias("lens"),
    ).first()
    if prefix_len is None:
        lo, hi = row["lo"] or "", row["hi"] or ""
        p = 0
        for a, b in zip(lo, hi):
            if a != b:
                break
            p += 1
    else:
        p = prefix_len
    raw_lens = list(row["lens"] or [])

    base = df.select(
        *block_cols,
        F.col(id_col).alias("_id"),
        F.col(text_col).alias("_s"),
        F.substring(F.col(text_col), p + 1, 2_000_000_000).alias("_u"),
    ).withColumn("_len", F.length("_u"))

    # The (combo, offsets) enumeration is emitted as a LITERAL
    # descriptor array and the substrings are computed AFTER the
    # explode by one small parametric expression. Inlining one struct
    # expression per emission (k=2, nseg=4, m=2: 96 of them) was
    # measured ~10x slower — the giant projection falls out of
    # whole-stage codegen; the descriptor form keeps a single
    # JIT-compiled expression evaluated per exploded row.
    def _seg_key(partner_len, emit):
        """(valid, txt) for one emission descriptor against ``_u``."""
        seg_base = F.floor(partner_len / nseg).cast("int")
        seg_rem = (partner_len % nseg).cast("int")
        valid = F.lit(True)
        parts = []
        for j in range(m):
            i = emit.getField(f"i{j}")
            start = i * seg_base + F.least(i, seg_rem) + 1
            length = seg_base + F.when(i < seg_rem, 1).otherwise(0)
            pos = start + emit.getField(f"d{j}")
            valid = valid & (pos >= 1) & (pos + length - 1 <= F.col("_len"))
            parts.append(F.substring(F.col("_u"), pos, length))
        return valid, F.concat_ws("", *parts)

    def _descriptor(ci, combo, ds, dl):
        fields = [F.lit(dl).cast("int").alias("dl"), F.lit(ci).cast("int").alias("ci")]
        for j in range(m):
            fields.append(F.lit(combo[j]).cast("int").alias(f"i{j}"))
            fields.append(F.lit(ds[j]).cast("int").alias(f"d{j}"))
        return F.struct(*fields)

    # Index side: the (potentially) longer string of a pair emits the
    # concatenated contents of each m-combination of its segments,
    # keyed by (combination id, contents, own length).
    zeros = tuple(0 for _ in range(m))
    idx_desc = F.array(
        *[_descriptor(ci, combo, zeros, 0) for ci, combo in enumerate(combos)]
    )
    index = base.withColumn("_e", F.explode(idx_desc))
    _, idx_txt = _seg_key(F.col("_len"), F.col("_e"))
    index = index.select(
        *block_cols,
        F.col("_id").alias("_id_a"),
        F.col("_s").alias("_s_a"),
        F.col("_len").alias("_len_a"),
        F.col("_e.ci").alias("_seg"),
        idx_txt.alias("_txt"),
    )

    # Probe side: the shorter string emits, for every partner length
    # L in [len, len+k] and every segment combination of a length-L
    # string, the same-length substrings at every feasible offset
    # tuple inside the tight windows.
    probe_desc = []
    for delta in range(k + 1):
        ins_max = (k - delta) // 2
        del_max = delta + ins_max
        offsets = range(-del_max, ins_max + 1)
        for ds in product(offsets, repeat=m):
            if not _offset_tuple_feasible(ds, delta, k):
                continue
            for ci, combo in enumerate(combos):
                probe_desc.append(_descriptor(ci, combo, ds, delta))
    # Partner lengths that don't occur in the data can't match anything:
    # prune those emissions right after the explode, before any
    # substring work or shuffle (on an equal-length corpus this drops
    # every Δ>0 emission — k=2, nseg=4, m=2: 54 of 96 per row). The
    # length set rode the single pre-pass aggregate above.
    # Clamp at 0: a caller-pinned prefix_len longer than the shortest
    # string would otherwise derive negative lengths while the actual
    # stripped _len floors at 0, and the isin prune below would drop
    # valid candidate pairs.
    real_lens = sorted({max(ln - p, 0) for ln in raw_lens})
    probe = base.withColumn("_e", F.explode(F.array(*probe_desc)))
    partner_len = F.col("_len") + F.col("_e.dl")
    if 0 < len(real_lens) <= 10_000:
        probe = probe.filter(partner_len.isin(real_lens))
    p_valid, p_txt = _seg_key(partner_len, F.col("_e"))
    probe = probe.filter(p_valid).select(
        *block_cols,
        F.col("_id").alias("_id_b"),
        F.col("_s").alias("_s_b"),
        partner_len.cast("long").alias("_len_a"),
        F.col("_e.ci").alias("_seg"),
        p_txt.alias("_txt"),
    )

    # Both sides are corpus-sized after their explodes — Spark's size
    # estimate of the exploded probe can still look broadcastable and
    # OOM the driver, so pin a shuffled hash join on the composite key.
    cand = index.hint("shuffle_hash").join(
        probe, [*block_cols, "_len_a", "_seg", "_txt"]
    ).filter(F.col("_id_a") != F.col("_id_b"))
    # Normalize to id1 < id2 (equal-length pairs arrive in both roles);
    # callers dedupe multi-combination matches (segment_candidates
    # distincts here; edit_distance_pairs_segmented first knocks
    # candidates out with the cheap thresholded DP so the dedup
    # shuffle carries only surviving pairs).
    return cand.select(
        *block_cols,
        F.least("_id_a", "_id_b").alias("id1"),
        F.greatest("_id_a", "_id_b").alias("id2"),
        F.when(F.col("_id_a") < F.col("_id_b"), F.col("_s_a"))
        .otherwise(F.col("_s_b"))
        .alias("s1"),
        F.when(F.col("_id_a") < F.col("_id_b"), F.col("_s_b"))
        .otherwise(F.col("_s_a"))
        .alias("s2"),
    )


def edit_distance_pairs_segmented(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: Sequence[str],
    max_dist: int = 2,
    prefix_len: int | None = None,
    n_segments: int | None = None,
    min_matches: int = 1,
) -> DataFrame:
    """:func:`edit_distance_pairs` with PassJoin segment pre-blocking —
    the SAME pair set (see :func:`segment_candidates` for the proof),
    but the thresholded Levenshtein DP runs only on segment-matched
    candidates instead of every within-block pair. On ID-like name
    columns the candidate set shrinks by ~an order of magnitude
    (more with ``n_segments``/``min_matches`` raised on low-entropy
    strings), and unlike the attribute block alone it keeps shrinking
    as blocks grow (a 100× bigger block grows candidates ~100×, not
    10,000×)."""
    cand = _segment_candidates_raw(
        df, id_col, text_col, block_cols, max_dist=max_dist,
        prefix_len=prefix_len, n_segments=n_segments, min_matches=min_matches,
    )
    return (
        cand.withColumn("dist", F.levenshtein("s1", "s2", max_dist))
        .filter(F.col("dist") >= 0)
        .select(*block_cols, "id1", "id2", "s1", "s2", "dist")
        .distinct()
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every character ``k``-gram
    of the whitespace-normalized text, slide a window of ``w``
    consecutive gram hashes over each document, and keep the minimum of
    each window. The distinct selected hashes are the document's
    fingerprint set — winnowing guarantees any shared substring of
    length ≥ k+w-1 contributes at least one common fingerprint, which
    is the local-similarity guarantee plain MinHash lacks.

    Shape: one narrow repartition by document, one explode (~chars per
    doc), one window-min sharing that partitioning, one grouped
    aggregation — no joins, no quadratic step; document order never
    matters, so this parallelizes to any corpus size. Gram hashes are
    the portable md5 recipe (seed 1), reproducible in any engine.

    Output per document: ``n_fp`` distinct fingerprints and their
    min/max/sum (a compact, engine-portable digest of the set).
    Documents shorter than k+w-1 normalized chars (no full window)
    are dropped — too short to fingerprint at this granularity.
    """
    from pyspark.sql import Window

    parallelism = df.sparkSession.sparkContext.defaultParallelism
    sized = (
        df.repartition(parallelism, id_col)
        .withColumn("__norm", F.array_join(tokens_expr(text_col), " "))
        .withColumn("__n", F.length("__norm") - k + 1)
        .filter(F.col("__n") >= w)
    )
    grams = sized.select(
        F.col(id_col),
        F.col("__n").alias("n_grams"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.col("__n")),
                lambda i: F.col("__norm").substr(i, F.lit(k)),
            )
        ).alias("pos", "gram"),
    )
    w_win = (
        Window.partitionBy(id_col).orderBy("pos").rowsBetween(Window.currentRow, w - 1)
    )
    fps = (
        grams.withColumn("fp", F.min(md5_hash32(F.col("gram"), 1)).over(w_win))
        .filter(F.col("pos") <= F.col("n_grams") - w)
        .select(F.col(id_col), "fp")
        .distinct()
    )
    return fps.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_fp"),
        F.min("fp").alias("fp_min"),
        F.max("fp").alias("fp_max"),
        F.sum("fp").alias("fp_sum"),
    )


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 16,
) -> DataFrame:
    """SimHash per document: for each bit position j, sum ±1 over the
    document's tokens according to bit j of the token's 32-bit md5
    hash; bit j of the result is set when the sum is positive.

    Token multiplicity is kept (standard SimHash term weighting).
    Near-duplicates land on equal (or small-Hamming-distance) values.
    """
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    # tokens_expr and md5_hash32(tok, 0), written as SQL text.
    toks = df.repartition(parallelism, id_col).selectExpr(
        ident(id_col),
        rf"explode(split(lower(trim({ident(text_col)})), '\\s+')) AS tok",
    )
    th = "CAST(conv(substring(md5(concat('0:', tok)), 1, 8), 16, 10) AS BIGINT)"
    sums = toks.groupBy(id_col).agg(
        *[
            F.expr(f"sum((shiftright({th}, {j}) & 1) * 2 - 1) AS s_{j}")
            for j in range(bits)
        ]
    )
    sim = " + ".join(
        f"CASE WHEN s_{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(bits)
    )
    return sums.selectExpr(ident(id_col), f"{sim} AS simhash")


# Edge-count ceiling for the driver-local CC fastpath (see
# _cc_local_labels): 8M edges = two 64 MB int64 arrays on the driver —
# the same order of memory a broadcast-join hash relation is allowed.
# Callers pass ``local_max_edges=0`` to disable the fastpath.
_CC_LOCAL_MAX_EDGES = 8_000_000

_CC_LOCAL_INT_TYPES = {"tinyint", "smallint", "int", "bigint"}


def _cc_local_labels(
    edges: DataFrame, u_col: str, v_col: str
) -> DataFrame:
    """(node, cluster_id = component min) for every node incident to an
    edge, solved ON THE DRIVER with numpy min-label + pointer doubling.

    This is the bounded small-graph endgame of distributed CC — the
    same posture as a broadcast join: below a size threshold the edge
    list is a few dozen MB, and one Arrow collect + an O(E·log d)
    in-memory solve replaces O(log² n) ROUNDS of shuffle jobs whose
    per-round fixed cost (3 exchanges + job scheduling) dominates at
    any data size the threshold admits. Exact integer min-label math —
    the labels are identical to the distributed fixpoint's, and the
    caller's threshold gate keeps graphs above the ceiling on the
    distributed loop, so no 100 TB path ever collects here.
    """
    import numpy as np
    import pandas as pd

    spark = edges.sparkSession
    node_dt = edges.schema[u_col].dataType.simpleString()
    pdf = edges.select(
        F.col(u_col).cast("long").alias("u"),
        F.col(v_col).cast("long").alias("v"),
    ).toPandas()
    u = pdf["u"].to_numpy(dtype=np.int64, copy=False)
    v = pdf["v"].to_numpy(dtype=np.int64, copy=False)
    nodes = np.unique(np.concatenate([u, v]))
    a = np.searchsorted(nodes, u)
    b = np.searchsorted(nodes, v)
    lab = np.arange(len(nodes), dtype=np.int64)
    # Outer: relax every edge to the min of its endpoints' labels.
    # Inner: pointer-double the label forest to its roots. A path of
    # diameter d fully compresses in O(log d) doublings; the outer
    # loop re-relaxes until no edge changes anything (>=2 passes).
    while True:
        m = np.minimum(lab[a], lab[b])
        before = lab.copy()
        np.minimum.at(lab, a, m)
        np.minimum.at(lab, b, m)
        changed = not np.array_equal(lab, before)
        while True:
            nxt = lab[lab]
            if np.array_equal(nxt, lab):
                break
            lab = nxt
        if not changed:
            break
    out = pd.DataFrame({"node": nodes, "cluster_id": nodes[lab]})
    return spark.createDataFrame(
        out, schema="node bigint, cluster_id bigint"
    ).select(
        F.col("node").cast(node_dt).alias("node"),
        F.col("cluster_id").cast(node_dt).alias("cluster_id"),
    )


def _cc_local_eligible(edges: DataFrame, u_col: str, local_max_edges: int) -> bool:
    """Gate for the driver-local fastpath: integral node ids and an
    edge count under the ceiling. The count is one job over the
    caller's already-checkpointed edge blocks."""
    if local_max_edges <= 0:
        return False
    if edges.schema[u_col].dataType.simpleString() not in _CC_LOCAL_INT_TYPES:
        return False
    return edges.limit(local_max_edges + 1).count() <= local_max_edges


def connected_components(
    pairs: DataFrame,
    src_col: str = "id1",
    dst_col: str = "id2",
    max_iter: int = 50,
    local_max_edges: int | None = None,
) -> DataFrame:
    """Connected components over a candidate-pair graph — the step that
    turns near-dup PAIRS into dedup CLUSTERS (keep one doc per
    component). Returns (node, cluster_id = component min) for every
    node appearing in ``pairs``; a self-pair (x, x) puts an isolated x
    in its own cluster.

    Alternating large-star/small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14): convergence is
    O(log^2 n) ROUNDS INDEPENDENT OF GRAPH DIAMETER, where min-label
    propagation needs one round per hop, so long chains (sequential
    name suffixes, event chains) cost no more than near-cliques.

    Per round, on the current edge set E (kept oriented large->small,
    distinct, self-loop-free):

    * **large-star**: for each node u with neighborhood G(u) (E read
      bidirectionally), let m = min(G(u) + {u}); emit (v, m) for every
      neighbor v > u. Strictly-larger neighbors re-attach to the local
      minimum, halving long paths.
    * **small-star**: group the (large->small) edges by head u, let
      m = min of its smaller neighbors; re-point u and all those
      neighbors at m. This flattens each local star.

    Both steps are one groupBy + one self-join (two key shuffles); no
    step materializes a neighborhood in memory, so high-degree nodes
    spill to the shuffle, not the heap. Lineage is truncated per round
    with ``localCheckpoint`` (swap for reliable ``checkpoint`` on a
    cluster). At the fixpoint E is exactly the star set
    {(v, min_of_component)}, which is read off as the label table.

    Convergence detection: E (kept oriented u > v) is a fixpoint iff
    no node is both a head and a tail — heads(E) ∩ tails(E) = ∅ means
    E is a star forest, and a large→small star forest is stable under
    both steps (the center is below every leaf, so large-star re-emits
    the star and small-star re-points leaves at the same minimum).
    That's ONE bounded intersect probe, run every second round since
    star convergence takes several rounds anyway. A loop that has not
    converged after ``max_iter`` rounds raises instead of returning
    truncated labels.

    ``local_max_edges`` (default 8M edges)
    gates the driver-local endgame (:func:`_cc_local_labels`): under
    the ceiling, one Arrow collect + numpy min-label/pointer-doubling
    replaces the star rounds entirely — the Kiveris-family papers'
    own "finish in memory once the graph is small" move, with
    identical integer labels. Above the ceiling (or with
    ``local_max_edges=0``) the distributed O(log² n)-round loop below
    runs.
    """
    # Checkpoint the oriented-distinct pair set BEFORE dropping
    # self-loops, so the node set can be derived from the checkpointed
    # blocks instead of re-evaluating the caller's pair subtree a
    # second time (r14: for entity_resolution the un-pinned nodes
    # union replayed the whole segment join + DP — ~40% of the query).
    # Self-loop rows only add their node to the node set; the loop and
    # the local solver still see the u != v edge set.
    edges0 = (
        pairs.select(
            F.greatest(F.col(src_col), F.col(dst_col)).alias("u"),
            F.least(F.col(src_col), F.col(dst_col)).alias("v"),
        )
        .distinct()
        .localCheckpoint()
    )
    nodes = (
        edges0.select(F.col("u").alias("node"))
        .union(edges0.select(F.col("v").alias("node")))
        .distinct()
    )
    edges = edges0.filter(F.col("u") != F.col("v"))

    if local_max_edges is None:
        local_max_edges = _CC_LOCAL_MAX_EDGES
    if _cc_local_eligible(edges, "u", local_max_edges):
        labels = _cc_local_labels(edges, "u", "v").withColumnRenamed(
            "node", "__cc_node"
        )
        return nodes.join(
            labels, nodes["node"] == labels["__cc_node"], "left"
        ).select(
            "node",
            F.coalesce(F.col("cluster_id"), F.col("node")).alias("cluster_id"),
        )

    from pyspark.sql import Window

    wu = Window.partitionBy("u")
    for it in range(max_iter):
        # -- large-star ----------------------------------------------------
        # min over the neighborhood as a window aggregate: ONE shuffle
        # keyed by node instead of groupBy + self-join (two).
        bidir = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        large = (
            bidir.withColumn("m", F.least(F.min("v").over(wu), F.col("u")))
            .filter(F.col("v") > F.col("u"))
            # emitted as (larger, smaller): v > u >= m
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # -- small-star ----------------------------------------------------
        stars = large.withColumn("m", F.min("v").over(wu))
        # Lazy checkpoint: lineage still truncates at first use, but
        # rounds between convergence probes fuse into one job — ~30%
        # wall-clock off the loop vs an eager materialization per round.
        edges = (
            stars.select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(stars.select(F.col("u"), F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        # Star-forest certificate (see docstring): one bounded probe.
        if it % 2 == 1 or it == max_iter - 1:
            non_star = (
                edges.select("u").intersect(edges.select("v")).limit(1).count()
            )
            if non_star == 0:
                break
    else:
        # Truncated output would be silently WRONG (labels one or more
        # hops from the component minimum, possibly contradictory rows
        # per node), so refuse loudly.
        raise RuntimeError(
            f"connected_components did not converge within "
            f"max_iter={max_iter} rounds; raise max_iter "
            f"(O(log^2 n) rounds suffice for any graph)"
        )

    # At the fixpoint every edge is (member, component_min); the min
    # itself and isolated nodes (self-pairs) label themselves.
    labels = edges.select(F.col("u").alias("node"), F.col("v").alias("cluster_id"))
    return (
        nodes.join(labels, "node", "left")
        .select(
            "node", F.coalesce(F.col("cluster_id"), F.col("node")).alias("cluster_id")
        )
    )


def dot_expr(a: Column, b: Column) -> Column:
    """Sequential-fold dot product over array<double> — bit-identical
    to DuckDB's list_dot_product (verified empirically)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (F.sqrt(dot_expr(a, a)) * F.sqrt(dot_expr(b, b)))


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.99,
    block_dims: int = 0,
) -> DataFrame:
    """Cosine self-join: pairs (id1 < id2) with cosine >= threshold.

    ``block_dims=0`` is the brute-force correctness baseline: a cross
    join evaluating every O(n²) pair. Norms are computed once per
    vector *before* the join (linear work) so each pair evaluates a
    single dot-product fold instead of three — the folds are
    interpreted (not codegen'd), so this is a 3× cut of the dominant
    cost. cosine = dot/(norm1·norm2) is the same expression tree, so
    oracle values are unchanged.

    ``block_dims=1|2`` is a LOSSLESS grid-blocking rewrite of the same
    result set: cosine(a,b) >= t bounds the unit-normalized Euclidean
    distance by sqrt(2-2t), hence each normalized coordinate of a
    qualifying pair differs by at most that. Bucketing coordinate k
    into cells of width w = sqrt(2-2t) guarantees matching pairs sit
    in the same or adjacent cells, so an equi-join of build cells
    against probe cells exploded to {c-1, c, c+1} per blocked
    dimension covers every qualifying pair exactly once (the id1 <
    id2 filter keeps one orientation). The cross join becomes a keyed
    shuffle join whose pair count shrinks with the spread of the
    blocked coordinates (~10-50× here) — same exact output, and at
    100 TB the blocked plan is the only one that survives. Requires
    t > 0 (unit-distance bound must exist); falls back to brute force
    otherwise.
    """
    e = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    ).withColumn("norm", F.sqrt(dot_expr(F.col("v"), F.col("v"))))
    if block_dims > 0 and threshold > 0.0:
        w = float((2.0 - 2.0 * min(threshold, 1.0)) ** 0.5) or 1e-12
        # Tiny margin so coordinate pairs landing exactly w apart can't
        # straddle two non-adjacent cells through fp rounding.
        w *= 1.0 + 1e-9
        dims = list(range(min(block_dims, 2)))
        cells = [
            F.floor(F.col("v")[d] / F.col("norm") / F.lit(w)).cast("long")
            for d in dims
        ]
        build = e.select(
            F.col("id").alias("id1"),
            F.col("v").alias("v1"),
            F.col("norm").alias("n1"),
            *[c.alias(f"cell{d}") for d, c in zip(dims, cells)],
        )
        probe = e.select(
            F.col("id").alias("id2"),
            F.col("v").alias("v2"),
            F.col("norm").alias("n2"),
            *[c.alias(f"pc{d}") for d, c in zip(dims, cells)],
        )
        for d in dims:
            probe = probe.withColumn(
                f"cell{d}",
                F.explode(
                    F.array(
                        F.col(f"pc{d}") - 1, F.col(f"pc{d}"), F.col(f"pc{d}") + 1
                    )
                ),
            )
        joined = build.join(probe, [f"cell{d}" for d in dims])
    else:
        a = e.select(
            F.col("id").alias("id1"), F.col("v").alias("v1"), F.col("norm").alias("n1")
        )
        b = e.select(
            F.col("id").alias("id2"), F.col("v").alias("v2"), F.col("norm").alias("n2")
        )
        joined = a.crossJoin(b)
    return (
        joined.filter(F.col("id1") < F.col("id2"))
        .withColumn(
            "cosine",
            dot_expr(F.col("v1"), F.col("v2")) / (F.col("n1") * F.col("n2")),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id1", "id2", "cosine")
    )


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark-decontamination join: corpus documents sharing at
    least one word n-gram with an eval/benchmark document — the
    contamination check every pretraining pipeline runs before
    training (n≈8-13 word grams are the published recipe; GPT-3
    appendix C uses 13-grams).

    The benchmark side is eval-set-sized, so its exploded shingles are
    broadcast — the corpus side streams through map-side: shingle
    (row-local explode), hash-join against the broadcast set, one
    grouped count by (corpus_id, benchmark_id).

    Both sides are hash-re-exchanged on the (unique) doc id BEFORE
    the explode (the
    rows-vs-bytes rule: a compressed document table arrives in a
    handful of byte-sized input splits, but the shingle explode
    multiplies rows ~|tokens|×, so without the exchange the whole
    scan+join runs on 1-2 tasks — measured at sf10: 583 s starved vs
    ~30 s spread). The docs exchange itself is one cheap pass over the
    raw text; no other corpus-side shuffle happens until the tiny
    match set aggregates.
    """
    par = corpus.sparkSession.sparkContext.defaultParallelism
    c_sh = corpus.repartition(par, id_col).select(
        F.col(id_col).alias("corpus_id"),
        F.explode(shingles_expr(text_col, n)).alias("__sh"),
    )
    b_sh = benchmark.repartition(par, id_col).select(
        F.col(id_col).alias("benchmark_id"),
        F.explode(shingles_expr(text_col, n)).alias("__sh"),
    )
    return (
        c_sh.join(F.broadcast(b_sh), "__sh")
        .groupBy("corpus_id", "benchmark_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_ngrams"))
    )


def prefix_filtered_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    n: int = 1,
) -> DataFrame:
    """Exact word-set Jaccard join via PREFIX FILTERING (SSJoin /
    AllPairs family — Chaudhuri et al. ICDE'06, Bayardo et al. WWW'07):
    the deterministic, provably-complete candidate pruner, where
    MinHash-LSH is the probabilistic one.

    Under any fixed global token order, if J(A,B) >= t then A and B
    must share a token among each one's first |S| - ceil(t*|S|) + 1
    tokens (its "prefix"): fewer than that many misses can't happen or
    the overlap bound ceil(t*|S|) is violated. So candidates = pairs
    sharing >= 1 PREFIX token only — ordering tokens rarest-first makes
    prefixes hit the rarest tokens and candidate lists tiny. Exact
    Jaccard is then verified only for candidates (join restricted via
    the candidate pair set), so the output is bit-identical to the
    quadratic join: same pairs, same scores, no false negatives.

    Shuffles: tokens by doc (sizes+prefix rank), by token (df rank +
    candidate join), candidates by pair (verify) — all keyed, no cross
    join anywhere; boilerplate tokens never enter prefixes, which is
    the property that keeps this linear-ish on skewed corpora.

    ``n`` picks the set element: 1 = distinct words, >1 = word
    n-gram shingles. Prefix filtering prunes by the RAREST elements,
    so the element universe must be discriminative for the corpus —
    on a tiny-vocabulary corpus word sets are all near-identical and
    every candidate list is the whole corpus (measured: a 140 s
    blowup at sf0.1); shingles restore per-document-unique elements
    and with them the pruning power. Same trade the n-gram Jaccard
    join documents.
    """
    from pyspark.sql import Window

    if n > 1:
        elems = shingles_expr(text_col, n)
    else:
        elems = F.array_distinct(
            F.filter(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
                lambda x: x != "",
            )
        )
    toks = df.select(
        F.col(id_col).alias("id"), F.explode(elems).alias("tok")
    ).distinct()
    w_doc = Window.partitionBy("id")
    w_tok = Window.partitionBy("tok")
    # rarest-first global order; (df, tok) totally orders tokens
    w_rank = Window.partitionBy("id").orderBy("df", "tok")
    ranked = (
        toks.withColumn("df", F.count(F.lit(1)).over(w_tok))
        .withColumn("sz", F.count(F.lit(1)).over(w_doc))
        .withColumn("pos", F.row_number().over(w_rank))
    )
    prefix = ranked.filter(
        F.col("pos") <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
    )
    cand = (
        prefix.select(F.col("id").alias("id1"), "tok", F.col("sz").alias("sz1"))
        .join(
            prefix.select(F.col("id").alias("id2"), "tok", F.col("sz").alias("sz2")),
            "tok",
        )
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2", "sz1", "sz2")
        .distinct()
    )
    # Verify candidates only: explode each candidate's left token set,
    # hash-join against the right side's tokens on (id2, tok).
    t1 = toks.select(F.col("id").alias("id1"), "tok")
    t2 = toks.select(F.col("id").alias("id2"), "tok")
    overlap = (
        cand.join(t1, "id1")
        .join(t2, ["id2", "tok"])
        .groupBy("id1", "id2", "sz1", "sz2")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.col("n_common") / (F.col("sz1") + F.col("sz2") - F.col("n_common"))
    return (
        overlap.withColumn("jaccard", F.round(jac, 6))
        .filter(jac >= threshold)
        .select("id1", "id2", "n_common", "jaccard")
    )


def embedding_neardup_pairs_gemm(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.99,
    chunk_rows: int = 4096,
    margin: float = 1e-6,
) -> DataFrame:
    """:func:`embedding_neardup_pairs` (same exact output: id1 < id2,
    cosine >= threshold, identical cosine expression) with **BLAS
    candidate generation**: chunk the corpus by id range, pair chunks
    (upper triangle), and inside each chunk-pair task compute the full
    cosine block with one float64 numpy GEMM, emitting candidates at
    ``threshold - margin``. Survivors are re-verified with the SAME
    sequential-fold expression the brute variant uses, so the result —
    pair set and cosine bits — is identical to the oracle's.

    Why: grid blocking cannot prune dense unit-normalized
    high-dimensional vectors (per-coordinate spread ~1/sqrt(dim) ~=
    the cell width at t=0.99 — measured: block_dims 2..4 all ~132 s at
    sf1), so the exact self-join is inherently ~all-pairs in CANDIDATE
    work. The fix is constant-factor but decisive: one vectorized GEMM
    evaluates a pair in ~100x less CPU than an interpreted per-pair
    fold (measured 141 s -> ~8 s at sf1). The margin is vastly wider
    than float64 GEMM-vs-fold divergence (~1e-13 relative), so no true
    pair can be lost; the exact refilter reproduces the brute pair set
    bit-for-bit.

    Scale shape: chunk blobs are built executor-side (collect_list per
    chunk — no driver collect); the chunk-pair cross join replicates
    each chunk C times. Fine to ~10^5-row chunks x 100s of chunks; at
    real-cluster scale, write chunks bucketed and schedule chunk pairs
    co-partitioned instead of cross-joining blobs (SCALE.md), or cap
    replication by raising ``chunk_rows``.
    """
    import numpy as np
    import pandas as pd

    e = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).withColumn("norm", F.sqrt(dot_expr(F.col("v"), F.col("v"))))
    e = e.withColumn("cid", F.floor(F.col("id") / F.lit(chunk_rows)))
    chunks = e.groupBy("cid").agg(
        F.collect_list(F.struct("id", "v")).alias("blob")
    )
    tasks = (
        chunks.select(F.col("cid").alias("cid_a"), F.col("blob").alias("blob_a"))
        .crossJoin(
            chunks.select(F.col("cid").alias("cid_b"), F.col("blob").alias("blob_b"))
        )
        .filter(F.col("cid_a") <= F.col("cid_b"))
        # one GEMM per task: spread tasks over the cluster
        .repartition(F.col("cid_a"), F.col("cid_b"))
    )
    thr = float(threshold - margin)

    def score(batches):
        for pdf in batches:
            out_1, out_2 = [], []
            for _, row in pdf.iterrows():
                ia = np.fromiter((r["id"] for r in row["blob_a"]), dtype=np.int64)
                va = np.array([r["v"] for r in row["blob_a"]], dtype=np.float64)
                same = row["cid_a"] == row["cid_b"]
                if same:
                    ib, vb = ia, va
                else:
                    ib = np.fromiter(
                        (r["id"] for r in row["blob_b"]), dtype=np.int64
                    )
                    vb = np.array([r["v"] for r in row["blob_b"]], dtype=np.float64)
                na = np.sqrt((va * va).sum(axis=1))
                nb = na if same else np.sqrt((vb * vb).sum(axis=1))
                cs = (va @ vb.T) / np.outer(na, nb)
                i, j = np.nonzero(cs >= thr)
                keep = ia[i] < ib[j]  # strict order also kills the diagonal
                out_1.append(ia[i][keep])
                out_2.append(ib[j][keep])
            if out_1:
                yield pd.DataFrame(
                    {
                        "id1": np.concatenate(out_1),
                        "id2": np.concatenate(out_2),
                    }
                )

    cands = tasks.mapInPandas(score, "id1 long, id2 long")
    v1 = e.select(
        F.col("id").alias("id1"), F.col("v").alias("v1"), F.col("norm").alias("n1")
    )
    v2 = e.select(
        F.col("id").alias("id2"), F.col("v").alias("v2"), F.col("norm").alias("n2")
    )
    return (
        cands.join(v1, "id1")
        .join(v2, "id2")
        .withColumn(
            "cosine",
            dot_expr(F.col("v1"), F.col("v2")) / (F.col("n1") * F.col("n2")),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id1", "id2", "cosine")
    )


# ---- exact substring (k-char window) duplication ----------------------------


def substring_windows(
    docs: DataFrame,
    window: int = 40,
    stride: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_parts: int | None = None,
) -> DataFrame:
    """One row per strided character window of each document:
    ``(id_col, pos, win)`` where ``win = substring(text, pos+1, window)``
    for ``pos ∈ {0, stride, 2·stride, …, ≤ length-window}``. Documents
    shorter than ``window`` produce no rows.

    This is the candidate-generation step of exact-substring
    deduplication (the suffix-array recipe of Lee et al., "Deduplicating
    Training Data Makes Language Models Better", re-expressed for a
    distributed engine): instead of one global suffix array, emit
    strided fixed-width windows and find repeats by hash equality — a
    linear explode (``length/stride`` rows per document) followed by
    one equi-shuffle, with no quadratic candidate join anywhere.

    Built-ins only (``sequence`` + ``explode`` + ``substring``), so the
    whole expansion stays inside whole-stage codegen.

    The docs are round-robin re-exchanged to ``n_parts`` (default: the
    cluster's defaultParallelism) BEFORE the explode: input partitioning
    is sized by document BYTES, but the explode multiplies rows by
    ~len/stride (300× at stride 1), so a 2-partition parquet scan would
    run the whole expansion 2-way — the same rows-vs-bytes starvation as
    SCALE.md round-6's pandas stages (measured: stride-1 stage at sf1
    15.1 s → 1.3 s warm with the exchange; the docs shuffle itself is
    one cheap pass over the raw text)."""
    n = n_parts or docs.sparkSession.sparkContext.defaultParallelism
    return (
        docs.filter(F.length(text_col) >= window)
        .repartition(n)
        .select(
            id_col,
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.length(text_col) - window,
                    F.lit(stride),
                )
            ).alias("pos"),
            F.col(text_col),
        )
        .select(
            id_col,
            "pos",
            F.expr(f"substring({text_col}, pos + 1, {window})").alias("win"),
        )
    )


def _gram_key128(col: str | Column) -> list[Column]:
    """128-bit dup-gram key: two INDEPENDENT xxhash64 halves as
    fixed-width longs (``h1``, ``h2``).

    A single 64-bit key is fine at tested scales (sf10 ~5x10^8 grams ->
    expected colliding pairs ~= 0.01) but overstates "EXACT" at the
    100 TB design point: ~10^14 grams expect ~10^8 false dup pairs
    (birthday bound n^2/2^65). Two halves drop the expectation below
    1e-8 while keeping the all-long shuffle discipline (16 bytes per
    key, still fixed-width, no text on the wire). The second half
    hashes the salt-EXTENDED text, not a re-seed of the first hash —
    ``xxhash64(win, lit)`` chains off ``xxhash64(win)``, so an h1
    collision would imply an h2 collision and buy nothing."""
    c = F.col(col) if isinstance(col, str) else col
    return [
        F.xxhash64(c).alias("h1"),
        F.xxhash64(F.concat(c, F.lit("\u0001"))).alias("h2"),
    ]


def substring_dup_stats(
    docs: DataFrame,
    window: int = 40,
    stride: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document exact-substring duplication profile:
    ``(id_col, n_windows, n_dup_windows, dup_frac)`` where a window is
    "duplicated" if its exact ``window``-char text occurs ≥2 times
    anywhere in the corpus (within- or cross-document).

    Shape: the strided window explode (linear), then the per-window
    corpus count as a ``count() OVER (PARTITION BY hash)`` window — ONE
    exchange on the window hash, no self-join and no second scan of the
    corpus (an agg+join formulation plans the explode twice) — then one
    shuffle back to the document. Windows shuffle as 128-bit
    :func:`_gram_key128` keys, not 40-char texts (the hash never
    leaves this plan, so the repo's cross-engine md5 portability rule
    doesn't apply, and the exchange + sort run on fixed-width longs);
    at 100 TB both exchanges stay linear in corpus size / stride,
    which is the whole point vs. a suffix array (global sort) or
    pairwise comparison (quadratic)."""
    from pyspark.sql import Window

    wins = substring_windows(docs, window, stride, id_col, text_col).select(
        id_col, *_gram_key128("win")
    )
    counted = wins.withColumn(
        "n_occ", F.count(F.lit(1)).over(Window.partitionBy("h1", "h2"))
    )
    per_doc = (
        counted
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.when(F.col("n_occ") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_windows"),
        )
    )
    return per_doc.select(
        id_col,
        "n_windows",
        "n_dup_windows",
        (
            F.col("n_dup_windows").cast("double")
            / F.col("n_windows").cast("double")
        ).alias("dup_frac"),
    )


def top_duplicated_windows(
    docs: DataFrame,
    window: int = 40,
    stride: int = 10,
    top_k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The ``top_k`` most-repeated exact ``window``-char substrings in
    the corpus: ``(win, n_occ, n_docs)`` ordered by ``n_occ`` desc with
    the window text as the deterministic tiebreak — the "what IS the
    boilerplate" companion to :func:`substring_dup_stats`'s
    per-document fractions.

    Late text materialization (the top-k shape that survives 100 TB):
    grouping directly on the 40-char window text shuffles wide string
    keys for EVERY window (measured 19.6× at 10× data); instead the
    counts aggregate on 128-bit :func:`_gram_key128` keys, an exact
    tie-aware threshold (the ``top_k``-th largest count) prunes to the
    candidate hashes, and only the candidates' text is recovered — one
    extra linear pass over the corpus windows against a broadcast of
    the (tiny) candidate set. Ties AT the threshold are all kept until
    the final ordered limit so the text tiebreak stays exact. The
    threshold collect is one bounded row (same posture as
    ``running_totals``' per-partition offsets)."""
    wins = substring_windows(docs, window, stride, id_col, text_col).select(
        id_col, *_gram_key128("win"), "win"
    )
    cnts = (
        wins.select(id_col, "h1", "h2")
        .groupBy("h1", "h2")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.countDistinct(id_col).alias("n_docs"),
        )
        .filter(F.col("n_occ") >= 2)
        .localCheckpoint()  # reused for the threshold AND the candidates
    )
    t = (
        cnts.orderBy(F.col("n_occ").desc())
        .limit(top_k)
        .agg(F.min("n_occ").alias("t"))
        .collect()[0]["t"]
    )
    if t is None:  # no duplicated window anywhere
        return cnts.select(
            F.lit("").alias("win"), "n_occ", "n_docs"
        ).limit(0)
    cand = cnts.filter(F.col("n_occ") >= t)
    texts = (
        wins.join(F.broadcast(cand.select("h1", "h2")), ["h1", "h2"])
        .groupBy("h1", "h2")
        # all wins under one hash are the same text; min() makes even a
        # (cosmically unlikely) collision deterministic
        .agg(F.min("win").alias("win"))
    )
    return (
        cand.join(F.broadcast(texts), ["h1", "h2"])
        .orderBy(F.col("n_occ").desc(), F.col("win"))
        .limit(top_k)
        .select("win", "n_occ", "n_docs")
    )


def maximal_repeat_spans(
    docs: DataFrame,
    min_len: int = 40,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXACT maximal repeat spans — per document, the maximal character
    intervals that lie inside some substring of length ≥ ``min_len``
    occurring ≥2 times anywhere in the corpus (within- or
    cross-document): ``(id_col, span_start, span_len, n_dup_grams)``
    with 0-based ``span_start``.

    This is the arbitrary-length upgrade of the strided
    :func:`substring_dup_stats` profile to the true Lee et al. output
    ("Deduplicating Training Data Makes Language Models Better":
    suffix-array maximal repeats, reference jobs have no equivalent),
    WITHOUT a distributed suffix array. The identity that makes it
    exact: the character-set union of all duplicated substrings of
    length ≥ L equals the union of duplicated L-grams at stride 1 —
    (⊇) every duplicated L-gram is itself a duplicated substring of
    length L, and (⊆) a duplicated substring of length m ≥ L has every
    one of its m−L+1 L-grams duplicated, so its characters are covered
    by their intervals. Maximal spans of that union are therefore
    computable by flagging duplicated L-grams and merging their
    ``[pos, pos+L)`` intervals — no suffix sort, no prefix-doubling
    rounds, no pairwise comparison.

    Shape: the duplicated-gram SET comes from a map-side-combined
    ``groupBy(hash)`` count (the partial aggregation collapses the
    O(total_chars) gram stream to one row per distinct hash BEFORE the
    exchange — a ``count() OVER (PARTITION BY hash)`` formulation
    instead exchanges AND sorts every gram row: measured 71-110 s at
    sf10); the gram stream then BROADCAST-joins that set (codegen
    re-explode — cheaper than materializing 10⁸ rows; the set is
    16 bytes per distinct duplicated gram, ~80 MB even on the
    worst-case tiled sf10 corpus), and one doc-keyed exchange runs the
    classic
    gaps-and-islands window (break when the gap exceeds L, running-sum
    the breaks, group) to merge overlapping/touching intervals.
    Interval ends are monotone in ``pos``, so comparing each position
    only with its predecessor is sufficient for the merge. Everything
    shuffles as 128-bit :func:`_gram_key128` keys / fixed-width
    longs, never text.
    At 100 TB a truly enormous dup-hash set would outgrow the
    broadcast — drop the hint there and the same plan runs as a
    co-partitioned hash join on the pre-aggregated set, still linear
    and still sort-free."""
    from pyspark.sql import Window

    wins = substring_windows(
        docs, window=min_len, stride=1, id_col=id_col, text_col=text_col
    ).select(id_col, "pos", *_gram_key128("win"))
    dup_hashes = (
        wins.groupBy("h1", "h2")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .filter(F.col("n_occ") >= 2)
        .select("h1", "h2")
    )
    dup = wins.join(F.broadcast(dup_hashes), ["h1", "h2"])
    w = Window.partitionBy(id_col).orderBy("pos")
    gap = F.col("pos") - F.lag("pos").over(w)
    flagged = dup.select(
        id_col,
        "pos",
        F.when(gap.isNull() | (gap > min_len), 1).otherwise(0).alias("brk"),
    )
    grouped = flagged.withColumn(
        "g_id", F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        grouped.groupBy(id_col, "g_id")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + min_len - F.min("pos"))
            .cast("long")
            .alias("span_len"),
            F.count(F.lit(1)).cast("long").alias("n_dup_grams"),
        )
        .select(id_col, "span_start", "span_len", "n_dup_grams")
    )
