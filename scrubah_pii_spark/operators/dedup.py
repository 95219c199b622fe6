"""Deduplication operators: exact, SimHash near-dup (LSH-banded), MinHash LSH,
n-gram Jaccard.

Reference semantics (what): contentHasher.effect.ts:240-301 (EXACT /
NEAR_DUPLICATE >=0.95 / SAME_EVENT >=0.70 + same type + 72h / UNIQUE),
timelineOrganizer.effect.ts:246-305 ("first previous wins"),
compressionPipeline.effect.ts:189-227 (Jaccard >= 0.85 word sets).

Spark-first how (scale): the reference's O(n^2) vs-all-previous scans are
replaced by
  * exact: window over content_hash (one shuffle on the hash key),
  * near-dup: SimHash LSH banding (2 bands x 16 bits of the low half, which
    simhash_int mirrors into the high half); every member of a
    (band, bits) bucket is hamming-verified with native xor/bit_count
    against the bucket's earliest (ts, url) doc — a window, no pair join,
  * "first previous wins" -> min_by((ts, url)) over verified candidates,
  * MinHash-LSH over word shingles for Jaccard-style dedup at scale.
At 100 TB: the band windows and the MinHash band join shuffle on short keys
(band bits / minhash band), AQE skew-join splits hot buckets
(empty/boilerplate docs); exact-dup removal runs FIRST so identical content
never feeds the banded stage.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing_expr import (
    simhash_band_expr,
    simhash_similarity_expr,
)
from .row_udf import row_udf
from .similarity import block_pairs

# Verdict tiers of contentHasher.effect.ts:240-301: near-duplicate at
# similarity >= 0.95; same-event at >= 0.70 with the same doc type and crawl
# times at most 72 h apart.
NEAR_DUP_THRESHOLD = 0.95
SAME_EVENT_THRESHOLD = 0.70
SAME_EVENT_HOURS = 72.0

# compressionPipeline.effect.ts:189-227 word sets: words longer than 3 chars
JACCARD_MIN_WORD_LEN = 3


def exact_jaccard_pairs_prefix(
    df: DataFrame, text_col: str, id_col: str,
    threshold: float = 0.85, expand_groups: bool = True,
) -> DataFrame:
    """Production-scale exact Jaccard pairs >= threshold via PREFIX FILTERING
    (the AllPairs/PPJoin family — Bayardo et al., WWW'07; public technique):
    results are IDENTICAL to the naive exact_jaccard_pairs reference in
    tests/dedup_reference.py (pytest-proven), but the word join explodes
    only each distinct set's PREFIX — its rarest p = |s| - floor(t*|s|) + 1
    words under the global (document-frequency, word) order — instead of
    every word.

    Why this de-quadratics the hot keys: a pair with J >= t must share at
    least one prefix token (if a's prefix misses b entirely, the
    intersection fits in a's suffix: |a^b| <= |a| - p < t*|a| <= t*|a u b|
    — contradiction). High-document-frequency words sort to the END of every
    set, so they appear in a prefix only for sets that consist almost
    entirely of frequent words; per-word join fan-out is bounded by the
    number of sets whose PREFIX contains the word, not the word's raw
    document frequency. (floor(t*|s|)+1 is used instead of the tight
    ceil(t*|s|) to stay safe under IEEE rounding of t*|s| — one extra prefix
    token, never a recall loss.)

    Like that reference, identical word sets collapse to one
    representative group before any join (set-identity dedup — a superset of
    exact text dedup after normalization), so duplicate-heavy corpora cost
    O(distinct sets), and within-group pairs emit at jaccard 1.0 directly.

    expand_groups=True (the reference's pair semantics,
    compressionPipeline.effect.ts:189-227) materializes every member pair —
    the *computation* is linear in distinct sets but the *output* is
    quadratic in duplicate-group size (a 1M-doc duplicate group emits 5e11
    rows). expand_groups=False is the production dedup form: per
    identical-set group emit (representative=min(id), member, 1.0) edges —
    m-1 rows instead of m(m-1)/2 — and one (rep_a, rep_b, jaccard) edge per
    qualifying DISTINCT-set pair. The full pair list is recoverable with
    expand_jaccard_group_edges in tests/dedup_reference.py (pytest proves
    expansion == pairs), so no information is lost; output is linear in
    distinct sets + group sizes."""
    wordsets = df.select(
        F.col(id_col).alias("_id"),
        F.array_sort(
            F.array_distinct(
                F.filter(
                    F.split(F.lower(F.col(text_col)), r"\s+"),
                    lambda w: F.length(w) > JACCARD_MIN_WORD_LEN,
                )
            )
        ).alias("ws"),
    ).withColumn("fp", F.md5(F.concat_ws("\x1f", "ws")))

    groups = wordsets.groupBy("fp").agg(
        F.collect_list("_id").alias("members"),
        F.first("ws").alias("ws"),
        F.size(F.first("ws")).alias("sz"),
    )

    # --- ADAPTIVE VERIFICATION PATH (round 8) -----------------------------
    # Prefix filtering collapses on dense small-vocabulary corpora: when the
    # corpus' distinct >3-char vocabulary is tiny, every set is dense in it,
    # prefixes stop being selective, and the word self-join fans out
    # quadratically (measured at sf1.0: 24-word vocabulary, 737M raw
    # candidates, 127M after the size filter, 2073 s of JVM CPU in
    # array_intersect verification). With vocab <= 64 every DISTINCT word
    # set is exactly a 64-bit membership vector, so an exact blocked
    # all-DISTINCT-pairs comparison (float32 indicator matmul = exact
    # intersection counts, sizes <= 64) verifies every pair directly —
    # identical output, no candidate machinery. The vocabulary probe is one
    # small distinct+limit job that builds the groups itself; nothing is
    # cached, and inside the returned plan every consumer of the groups
    # reads one shared exchange. Corpora with a real vocabulary (webtext at
    # 100 TB: millions of words) fail the gate and keep the general AllPairs
    # prefix path.
    vocab_rows = (
        groups.select(F.explode("ws").alias("word")).distinct().limit(65).collect()
    )
    if len(vocab_rows) <= 64:
        verified = _jaccard_bitmask_verified(
            groups, sorted(r["word"] for r in vocab_rows), threshold
        )
    else:
        verified = _jaccard_prefix_verified(groups, threshold)
    within = _within_group_pairs(groups.filter(F.col("sz") > 0), expand_groups)
    return within.unionByName(_cross_group_pairs(verified, expand_groups))


def _within_group_pairs(groups: DataFrame, expand_groups: bool) -> DataFrame:
    """(id_a, id_b, jaccard=1.0) pairs inside each identical-set group of
    `groups` (fp, members): every member pair when expand_groups, else one
    representative(min id)->member edge per other member, m-1 rows/group
    and no self-join."""
    if expand_groups:
        m = groups.select(F.explode("members").alias("id_x"), "fp")
        return (
            m.alias("a")
            .join(m.alias("b"), (F.col("a.fp") == F.col("b.fp")) & (F.col("a.id_x") < F.col("b.id_x")))
            .select(
                F.col("a.id_x").alias("id_a"),
                F.col("b.id_x").alias("id_b"),
                F.lit(1.0).alias("jaccard"),
            )
        )
    return (
        groups.filter(F.size("members") > 1)
        .select(
            F.array_min("members").alias("id_a"),
            F.explode("members").alias("id_b"),
        )
        .filter(F.col("id_a") != F.col("id_b"))
        .withColumn("jaccard", F.lit(1.0))
    )


def _cross_group_pairs(verified: DataFrame, expand_groups: bool) -> DataFrame:
    """(id_a, id_b, jaccard) pairs between groups from verified group pairs
    (members_a, members_b, jaccard): every member-by-member pair when
    expand_groups, else one representative->representative edge per group
    pair. Distinct sets can't reach jaccard 1.0, so the 1.0 edges of the
    bounded form are exactly the within-group edges (expansion stays
    unambiguous)."""
    if expand_groups:
        return (
            verified.select(F.explode("members_a").alias("id_x"), "members_b", "jaccard")
            .select("id_x", F.explode("members_b").alias("id_y"), "jaccard")
            .select(
                F.least("id_x", "id_y").alias("id_a"),
                F.greatest("id_x", "id_y").alias("id_b"),
                "jaccard",
            )
        )
    ra, rb = F.array_min("members_a"), F.array_min("members_b")
    return verified.select(
        F.least(ra, rb).alias("id_a"),
        F.greatest(ra, rb).alias("id_b"),
        "jaccard",
    )


def _jaccard_prefix_verified(groups: DataFrame, threshold: float) -> DataFrame:
    """General AllPairs prefix-filter verify over DISTINCT word sets (see
    exact_jaccard_pairs_prefix). Returns distinct-set pairs with jaccard >=
    threshold plus their members_a / members_b."""
    # global word document-frequency over DISTINCT sets -> rarest-first order
    words = groups.select("fp", "sz", F.explode("ws").alias("word"))
    wdf = words.groupBy("word").agg(F.count("*").alias("wdf"))
    ranked = words.join(wdf, "word").withColumn(
        "_rn",
        F.row_number().over(
            Window.partitionBy("fp").orderBy("wdf", "word")
        ),
    )
    prefix = ranked.filter(
        F.col("_rn") <= F.col("sz") - F.floor(F.lit(threshold) * F.col("sz")) + 1
    ).select("fp", "word", "sz")

    # AllPairs LENGTH filter at the self-join: J(a,b) >= t forces
    # t * max(|a|,|b|) <= min(|a|,|b|) (intersection <= min, union >= max),
    # so size-incompatible candidates are dropped before the dedup shuffle
    # and the array_intersect verify. The 1e-9 slack keeps exact-boundary
    # pairs (e.g. |a|=17, |b|=20 at t=0.85) safe under IEEE rounding —
    # one spared candidate, never a recall loss.
    sz_compat = (
        (F.col("a.sz") >= F.col("b.sz") * threshold - 1e-9)
        & (F.col("b.sz") >= F.col("a.sz") * threshold - 1e-9)
    )
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"),
              (F.col("a.word") == F.col("b.word"))
              & (F.col("a.fp") < F.col("b.fp"))
              & sz_compat)
        .select(F.col("a.fp").alias("fp_a"), F.col("b.fp").alias("fp_b"))
        .dropDuplicates(["fp_a", "fp_b"])
    )
    ga = groups.select(
        F.col("fp").alias("fp_a"), F.col("ws").alias("ws_a"),
        F.col("sz").alias("sz_a"), F.col("members").alias("members_a"),
    )
    gb = groups.select(
        F.col("fp").alias("fp_b"), F.col("ws").alias("ws_b"),
        F.col("sz").alias("sz_b"), F.col("members").alias("members_b"),
    )
    return (
        cand.join(ga, "fp_a").join(gb, "fp_b")
        .withColumn("inter", F.size(F.array_intersect("ws_a", "ws_b")))
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _jaccard_bitmask_verified(
    groups: DataFrame, vocab: list, threshold: float,
) -> DataFrame:
    """Exact Jaccard >= threshold over DISTINCT word sets when the corpus
    vocabulary fits in 64 bits (see the adaptive gate in
    exact_jaccard_pairs_prefix). Returns (fp_a, fp_b, jaccard, members_a,
    members_b) with fp_a < fp_b — the same shape the prefix path's verify
    step produces, so both expand_groups branches consume it unchanged.

    Shape: each distinct set is replicated to 8 block-pair tasks
    (similarity.block_pairs over 8 blocks of fp); each task compares its two
    sub-blocks with one float32 indicator matmul per row chunk —
    intersection counts are integers <= 64, exactly representable, and
    jaccard = inter / (sz_a + sz_b - inter) is the identical int->double
    division the expression path performs. Work is O(distinct_sets^2 / P)
    bit-ops with NO dependence on word frequencies — the regime where
    prefix filtering is quadratic anyway, now at ~1e9 vectorized cell
    compares per second per core instead of per-candidate string
    array_intersect."""
    import numpy as np
    import pandas as pd

    bit = {w: i for i, w in enumerate(vocab)}
    nbits = max(1, len(bit))
    thr = float(threshold)

    def kernel(pdf, ii, jj):
        fps = pdf["fp"].to_numpy()
        szs = pdf["sz"].to_numpy().astype(np.int64)
        M = np.zeros((len(pdf), nbits), dtype=np.float32)
        for r, ws in enumerate(pdf["ws"]):
            row = M[r]
            for w in ws:
                row[bit[w]] = 1.0
        out_a, out_b, out_j = [], [], []
        within = ii is jj
        if len(ii) and len(jj):
            fi, fj = fps[ii], fps[jj]
            sa = szs[ii]
            sb = szs[jj]
            Ai, Aj = M[ii], M[jj]
            # row-chunk the gram so peak memory stays ~50 MB per task
            step = max(1, 8_000_000 // max(1, len(jj)))
            for lo in range(0, len(ii), step):
                hi = lo + step
                inter = (Ai[lo:hi] @ Aj.T).astype(np.int64)
                union = sa[lo:hi, None] + sb[None, :] - inter
                jac = inter / union          # int64 / int64 -> float64
                mask = jac >= thr
                if within:
                    # positions are unique per set: keep x < y only
                    xs = np.arange(lo, min(hi, len(ii)))
                    mask &= xs[:, None] < np.arange(len(jj))[None, :]
                xi, yi = np.nonzero(mask)
                if len(xi) == 0:
                    continue
                fa = fi[lo + xi]
                fb = fj[yi]
                swap = fa > fb
                out_a.append(np.where(swap, fb, fa))
                out_b.append(np.where(swap, fa, fb))
                out_j.append(jac[mask])

        if not out_a:
            return pd.DataFrame({
                "fp_a": pd.Series([], dtype=str),
                "fp_b": pd.Series([], dtype=str),
                "jaccard": pd.Series([], dtype=float),
            })
        return pd.DataFrame({
            "fp_a": np.concatenate(out_a),
            "fp_b": np.concatenate(out_b),
            "jaccard": np.concatenate(out_j),
        })

    sets = groups.filter(F.col("sz") > 0).select("fp", "ws", "sz")
    pairs = block_pairs(
        sets, "fp", 8, [], kernel, "fp_a string, fp_b string, jaccard double"
    )
    ga = groups.select(
        F.col("fp").alias("fp_a"), F.col("members").alias("members_a")
    )
    gb = groups.select(
        F.col("fp").alias("fp_b"), F.col("members").alias("members_b")
    )
    return pairs.join(ga, "fp_a").join(gb, "fp_b")


def dedup_verdicts_fused(slim: DataFrame) -> DataFrame:
    """Exact-dup removal + bucket-representative near-dup verdicts in ONE
    fused chain over a slim (url, ts, doc_type, simhash, content_hash)
    projection. Returns one row per NON-exact-duplicate doc, keyed by
    (url, ts): content_hash, near_dup_of, similarity, difference_type,
    is_near_dup. Exact duplicates are absent from the output, so the caller's
    inner join drops them without an is_exact_dup filter.

    Exchange economics (the fixed dedup term at scale): three exchanges —
    shuffle(content_hash) window, shuffle(band, bits) window, and one
    groupBy(url, ts) that folds the per-band verdicts — where the previous
    shape (mark -> filter -> banded analysis -> best-join-back -> marked-join-
    near) spent five plus a corpus-wide verdict frame. Identity is the
    composite (url, ts) everywhere, so re-crawled urls (same url, different
    warc_ts) never fan a join out (each physical row carries its own verdict).

    Semantics: contentHasher.effect.ts:240-301 verdict tiers;
    timelineOrganizer.effect.ts:246-305 first-previous-wins via the
    min-by-(order key) fold. Approximation vs the reference's sequential
    vs-all-previous scan: a member whose distance to its bucket
    representative exceeds the threshold but that is near ANOTHER member is
    missed this round; dist<=3 pairs still collide with the rep's bucket in
    >=1 band, so the >=0.95 tier keeps high recall. The unfused composition
    it replaced lives in tests/dedup_reference.py, which the e2e tests
    compare it to.

    The input simhash must have identical 32-bit halves, as
    core.hashing.simhash_int writes it: only the low half's two 16-bit bands
    are exploded, because the high half's bands would hold the same bits and
    repeat the same buckets, representatives and verdicts."""
    order_key = F.concat_ws(
        "|",
        F.date_format(F.col("warc_ts").cast("timestamp"), "yyyyMMddHHmmss"),
        F.col("url"),
    )
    keyed = slim.withColumn("_order_key", order_key)

    # exchange 1: exact-dup window on content_hash (earliest (ts, url) wins)
    w_hash = Window.partitionBy("content_hash").orderBy("warc_ts", "url")
    uniq = keyed.withColumn("_rn", F.row_number().over(w_hash)).filter(
        F.col("_rn") == 1
    ).drop("_rn")

    # exchange 2: explode (band, bits) -> rep-compare window; every banded row
    # survives (non-matching rows keep NULL pair fields) so the per-doc fold
    # can default to 'unique' without a join back to the corpus.
    banded = uniq.select(
        F.col("url"),
        F.col("warc_ts"),
        F.col("doc_type").alias("_dt"),
        F.col("simhash").alias("_sh"),
        F.col("content_hash"),
        "_order_key",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("_band"),
                    simhash_band_expr(F.col("simhash"), b, 4).alias("_bits"),
                )
                for b in (0, 1)  # 16-bit bands 0 and 1: the low half
            ])
        ).alias("_bk"),
    ).select(
        "url", "warc_ts", "_dt", "_sh", "content_hash", "_order_key",
        "_bk._band", "_bk._bits",
    )
    w_band = Window.partitionBy("_band", "_bits").orderBy("_order_key")
    sim = simhash_similarity_expr(F.col("_sh"), F.first("_sh").over(w_band))
    compared = (
        banded.withColumn("_rep_url", F.first("url").over(w_band))
        .withColumn("_rep_ts", F.first("warc_ts").over(w_band))
        .withColumn("_rep_dt", F.first("_dt").over(w_band))
        .withColumn("_rep_order", F.first("_order_key").over(w_band))
        .withColumn(
            "_sim", F.when(F.col("_order_key") != F.col("_rep_order"), sim)
        )
        .withColumn(
            "_pair_type",
            F.when(F.col("_sim") >= NEAR_DUP_THRESHOLD, "near-duplicate").when(
                (F.col("_sim") >= SAME_EVENT_THRESHOLD)
                & (F.col("_dt") == F.col("_rep_dt"))
                & (
                    F.abs(
                        F.col("warc_ts").cast("timestamp").cast("long")
                        - F.col("_rep_ts").cast("timestamp").cast("long")
                    )
                    <= int(SAME_EVENT_HOURS * 3600)
                ),
                "same-event",
            ),
        )
    )

    # exchange 3: fold the <= 2 band rows per doc into one verdict.
    # min_by order: matched rows use the rep's order key; unmatched rows get
    # the '~' sentinel (0x7E — sorts after every yyyyMMdd...|url key), so
    # first-previous-wins among matches and 'unique' only when nothing matched.
    fold_order = F.when(
        F.col("_pair_type").isNotNull(), F.col("_rep_order")
    ).otherwise(F.lit("~"))
    return (
        compared.groupBy("url", "warc_ts")
        .agg(
            F.first("content_hash").alias("content_hash"),
            F.min_by(
                F.struct(
                    F.col("_rep_url").alias("u"),
                    F.col("_sim").alias("s"),
                    F.col("_pair_type").alias("p"),
                ),
                fold_order,
            ).alias("_m"),
        )
        .select(
            "url",
            "warc_ts",
            "content_hash",
            F.when(F.col("_m.p").isNotNull(), F.col("_m.u")).alias("near_dup_of"),
            F.when(F.col("_m.p").isNotNull(), F.col("_m.s")).alias("similarity"),
            F.coalesce(F.col("_m.p"), F.lit("unique")).alias("difference_type"),
            (F.coalesce(F.col("_m.p"), F.lit("unique")) == "near-duplicate").alias(
                "is_near_dup"
            ),
        )
    )


# --- MinHash LSH over word shingles --------------------------------------------
# 2^31-1: keeps (x % P) * a + b < 2^62 — no int64 overflow under ANSI mode
_P32 = 2147483647

# Signature length, LSH bands (k/bands rows each) and word-shingle length of
# the minhash_lsh_pairs query; oracles_sql.sql_minhash_lsh_pairs mirrors them.
MINHASH_K = 32
MINHASH_BANDS = 8
MINHASH_SHINGLE_LEN = 3

# shingle -> 60-bit id memo: md5 of a shingle is a pure function and shingles
# repeat massively across documents of a real corpus (cleared past ~1M
# entries inside the UDF). The UDF is pickled by value and carries its own
# copy of this dict, so a memo lasts one task, not the Python worker.
_shingle_memo: dict = {}


def _minhash_params(k: int, seed: int = 42):
    out = []
    for i in range(k):
        d = hashlib.sha256(f"minhash-{seed}-{i}".encode()).digest()
        a = int.from_bytes(d[:4], "big") % (_P32 - 1) + 1
        b = int.from_bytes(d[4:8], "big") % _P32
        out.append((a, b))
    return out


def add_minhash_signature(
    df: DataFrame, text_col: str, k: int = MINHASH_K,
) -> DataFrame:
    """Adds minhash: array<long> of k signature values over word 3-shingles
    (md5-derived 60-bit shingle ids, k affine min-hashes mod 2^31-1 — exactly
    reproducible in ANSI SQL, see entry_queries._sql_minhash). Vectorized
    numpy inside a pandas UDF: per doc one (k x n_shingles) affine map + min
    reduction — ~50x faster than the equivalent aggregate() expression tree."""
    import hashlib as _hashlib
    import re as _re

    import numpy as np
    from pyspark.sql.types import ArrayType, LongType

    params = _minhash_params(k)
    shingle_len = MINHASH_SHINGLE_LEN
    a_arr = np.array([a for a, _ in params], dtype=np.int64)[:, None]
    b_arr = np.array([b for _, b in params], dtype=np.int64)[:, None]
    ws = _re.compile(r"\s+")

    @row_udf(ArrayType(LongType()))
    def minhash_udf(text):
        words = [w for w in ws.split((text or "").lower()) if w]
        if len(words) >= shingle_len:
            shingles = {
                " ".join(words[i : i + shingle_len])
                for i in range(len(words) - shingle_len + 1)
            }
        elif words:
            shingles = {" ".join(words)}
        else:
            return [_P32] * k
        if len(_shingle_memo) > 1_000_000:
            _shingle_memo.clear()
        ids = []
        for s in shingles:
            h = _shingle_memo.get(s)
            if h is None:
                h = int(_hashlib.md5(s.encode()).hexdigest()[:15], 16)
                _shingle_memo[s] = h
            ids.append(h)
        x = np.array(ids, dtype=np.int64)[None, :]
        sig = ((x % _P32) * a_arr + b_arr) % _P32
        return sig.min(axis=1).tolist()

    return df.withColumn("minhash", minhash_udf(F.col(text_col)))


def minhash_dedup_pairs(df: DataFrame) -> DataFrame:
    """Candidate pairs among the url column whose minhash signatures collide
    in >=1 of MINHASH_BANDS bands of MINHASH_K/MINHASH_BANDS rows; estimated
    jaccard = matching positions / MINHASH_K.

    Scale design: docs are grouped by their FULL signature first — identical
    signatures (est 1.0) pair within the group directly, and the banded
    self-join runs over DISTINCT signatures only. A boilerplate-heavy corpus
    where thousands of docs share one signature costs O(group sizes) instead
    of O(docs^2) band-bucket blowup (same trick as
    exact_jaccard_pairs_prefix)."""
    k, bands = MINHASH_K, MINHASH_BANDS
    rows = k // bands
    sigs = df.select(
        F.col("url").alias("_url"), F.col("minhash")
    ).withColumn("fp", F.md5(F.concat_ws(",", "minhash")))
    groups = sigs.groupBy("fp").agg(
        F.collect_list("_url").alias("members"), F.first("minhash").alias("minhash")
    )

    banded = groups.select(
        "fp",
        "minhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.concat_ws(",", F.slice("minhash", b * rows + 1, rows)).alias("key"),
                )
                for b in range(bands)
            ])
        ).alias("bk"),
    ).select("fp", "minhash", "bk.band", "bk.key")
    a, b = banded.alias("a"), banded.alias("b")
    # est AFTER the pair dedup: a signature pair colliding in m bands used
    # to evaluate the k-element zip_with/filter estimate m times (once per
    # collision row) before dropDuplicates discarded the copies; carrying
    # the arrays through the dedup instead evaluates it once per pair
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("_mh_a"), F.col("_mh_b"), lambda x, y: x == y),
                lambda eq: eq,
            )
        ).cast("double")
        / F.lit(k).cast("double")
    )
    cross_groups = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.fp") < F.col("b.fp")),
        )
        .select(
            F.col("a.fp").alias("fp_a"), F.col("b.fp").alias("fp_b"),
            F.col("a.minhash").alias("_mh_a"), F.col("b.minhash").alias("_mh_b"),
        )
        .dropDuplicates(["fp_a", "fp_b"])
        .select("fp_a", "fp_b", est.alias("jaccard"))
    )
    ga = groups.select(F.col("fp").alias("fp_a"), F.col("members").alias("members_a"))
    gb = groups.select(F.col("fp").alias("fp_b"), F.col("members").alias("members_b"))
    verified = cross_groups.join(ga, "fp_a").join(gb, "fp_b")
    pairs = _within_group_pairs(groups, expand_groups=True).unionByName(
        _cross_group_pairs(verified, expand_groups=True)
    )
    return pairs.select(
        F.col("id_a").alias("url_a"),
        F.col("id_b").alias("url_b"),
        F.col("jaccard").alias("est_jaccard"),
    )
