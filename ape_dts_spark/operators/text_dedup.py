"""Document deduplication for large-scale training-data pipelines.

Exact + near-duplicate detection over a `documents(doc_id, text, ...)`
table, expressed with built-in JVM-side functions wherever possible so the
hot path stays inside whole-stage codegen:

* exact:      hash-groupBy on a content digest (md5) — one shuffle.
* minhash+LSH: word-shingle -> K minhashes (md5-based, deterministic and
  engine-portable) -> band buckets -> candidate pairs via bucket self-join
  -> verified Jaccard.  The band join only pairs documents sharing a
  band signature, which is what makes this sub-quadratic at 10^10 docs.
* simhash:    per-token 64-bit signatures folded into a weighted bitwise
  majority fingerprint; near-dups = small hamming distance within
  prefix buckets.
* n-gram Jaccard: shingle-set overlap via explode + self-join on shingle,
  group by pair — exact verification path for small candidate sets.

All hashes are deterministic (md5 / xxhash64 of content only) so results
are reproducible across runs and cluster sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _norm_words(col):
    return F.split(F.lower(F.trim(col)), r"\s+")


#: Spark byte-string suffix multipliers (JavaUtils.byteStringAsBytes).
_BYTE_SUFFIXES = {
    "": 1, "b": 1,
    "k": 1 << 10, "kb": 1 << 10,
    "m": 1 << 20, "mb": 1 << 20,
    "g": 1 << 30, "gb": 1 << 30,
    "t": 1 << 40, "tb": 1 << 40,
}


def _byte_string(raw, default: int = 134217728) -> int:
    """Parse a Spark size conf value ('134217728', '128m', '1g') to bytes.

    Mirrors JavaUtils.byteStringAsBytes for the suffixes Spark accepts;
    digit-stripping would turn '128m' into 128 BYTES and silently collapse
    the small-input threshold (ADVICE r4)."""
    s = str(raw).strip().lower()
    i = len(s)
    while i > 0 and not s[i - 1].isdigit():
        i -= 1
    num, suf = s[:i], s[i:].strip()
    if not num or suf not in _BYTE_SUFFIXES:
        return default
    return int(num) * _BYTE_SUFFIXES[suf]


def _spread(df: DataFrame) -> DataFrame:
    """Ensure explode-heavy work runs at session parallelism.

    A parquet scan's split count is floored at one row group, so a small
    (or few-file) corpus lands on 1-2 partitions and the shingle/hash
    explode — which amplifies CPU work 10-100x past the scan — runs nearly
    serial (measured 4x on the sf0.1 documents table: one ~1.5 MB file ->
    one partition -> one core).  Repartition only when the input is UNDER
    the session's parallelism: at real scale inputs already carry more
    partitions than that and this is a zero-cost no-op with no shuffle.

    The small-input decision uses the optimizer's SIZE ESTIMATE, not a
    partition-count probe or plan-shape tokens: `df.rdd.getNumPartitions()`
    forces physical planning and reports PRE-AQE counts (AQE's
    coalescePartitions can collapse a small shuffle output to 1 partition
    at runtime regardless of what the probe said), and plan-string token
    matching false-fires on relation/column names.  `optimizedPlan().stats`
    is a pure driver-side metadata read on any plan shape: accurate for
    file scans (footer sizes), conservative (huge) when unknown — so an
    unknown-size input is simply left alone, never force-shuffled.  A
    "small" input (estimate under target x maxPartitionBytes) is cheap to
    repartition BY DEFINITION, and the explicit repartition(n) is exempt
    from AQE coalescing, so the explode provably runs wide."""
    sess = df.sparkSession
    target = int(sess.conf.get("spark.sql.shuffle.partitions", "32"))
    try:
        raw_size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        # py4j converts scala.math.BigInt to a Python int when it fits; a
        # genuinely huge sentinel (unknown size) may come back as an object
        size = raw_size if isinstance(raw_size, int) else int(raw_size.toString())
    except Exception:
        return df  # stats unavailable -> leave the plan untouched
    raw = sess.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    max_pb = _byte_string(raw)
    if size < target * max_pb:
        return df.repartition(target)
    return df


def _drop_hot_keys(df: DataFrame, keys: list[str], cap: int) -> DataFrame:
    """Drop every row whose key occurs more than ``cap`` times — WITHOUT a
    window.

    ``count() OVER (PARTITION BY key)`` gets no partial aggregation and
    cannot be skew-split by AQE: every row of the hot key must co-locate on
    ONE task before the filter discards it, so the 10^8-row boilerplate
    megakey this cap exists to neutralize first lands whole on a single
    task (straggler/OOM at 10^10-doc scale).  Instead:

      1. ``groupBy(key).count()`` — map-side partial aggregation reduces the
         megakey to ONE row per map task before the shuffle;
      2. keep only keys over the cap (the hot-key list is tiny by
         construction: at most ``|df| / cap`` keys, in practice a handful);
      3. ``left_anti`` join the list back.  AQE turns this into a broadcast
         anti-join when the list is small (the normal case: zero probe-side
         shuffle) and can skew-SPLIT the left side of a sort-merge LeftAnti
         when it is not — either way no task ever holds the whole megakey.

    Output rows are IDENTICAL to the window form; oracle SQL is unchanged.
    """
    hot = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_hk_n"))
        .filter(F.col("_hk_n") > cap)
        .select(*keys)
    )
    return df.join(hot, keys, "left_anti").select(*df.columns)


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of byte-identical documents: (digest, n_docs, doc_ids, keeper)."""
    return (
        docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("digest"))
        .groupBy("digest")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sort_array(F.collect_list(id_col)).alias("doc_ids"),
            F.min(id_col).alias("keeper"),
        )
        .filter(F.col("n_docs") > 1)
    )


def dedup_exact(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep the lowest-id document per distinct content (the classic pass)."""
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col).asc())
    return docs.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def _shingle_array(text_col, k: int):
    """Distinct non-empty k-word shingles of a text column, as an array
    expression (no explode) — shared by the row-per-shingle and the fused
    per-doc paths so both produce identical shingle sets."""
    words = _norm_words(text_col)
    n = F.size(words)
    idxs = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    shingle_at = F.transform(idxs, lambda i: F.concat_ws(" ", F.slice(words, i + 1, k)))
    return F.filter(F.array_distinct(shingle_at), lambda s: F.length(s) > 0)


def _has_shingles(text_col, k: int):
    """``size(_shingle_array(text_col, k)) > 0`` as a cheap codegen
    predicate on the text itself.  At k=1 a shingle is one word, so the
    text needs a non-whitespace character (Spark's ``trim`` strips only
    spaces: a tab-only text trims non-empty yet holds no word).  At k>=2 a
    text whose trim is non-empty always qualifies: it splits into one
    non-empty word, or into two or more tokens whose join carries a
    separator — even whitespace-only text yields the shingle ' ', in Spark
    and in the DuckDB oracles alike."""
    if k == 1:
        return text_col.rlike(r"\S")
    return F.length(F.trim(text_col)) > 0


def word_shingles(docs: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """Distinct k-word shingles per document (JVM-side: split + transform + explode).

    The array expression is inlined INTO the explode (one select).  Aliasing
    the array in a lower Project and exploding the column looks identical but
    is ~8x slower here: InferFiltersFromGenerate adds ``size(arr) > 0`` on
    the aliased expression, PushDownPredicates moves it below ``_spread``'s
    repartition Exchange, and the whole interpreted higher-order shingle
    expression is then re-evaluated on the UN-spread input (1-2 scan
    partitions, i.e. nearly serial) before the parallel pass runs (r6
    measurement: 3.8s -> 0.5s on the sf0.1 corpus).  With the generator
    inlined the rule does not fire and the array is built exactly once,
    post-repartition."""
    return _spread(docs).select(
        F.col(id_col), F.explode(_shingle_array(F.col(text_col), k)).alias("shingle")
    )


#: modulus for the minhash universal-hash family (largest prime < 2^32).
MINHASH_PRIME = 4294967291


def minhash_params(num_hashes: int) -> tuple[list[int], list[int]]:
    """Deterministic (a_i, b_i) universal-hash parameters.

    Shared with the SQL oracles (the literal values are embedded in the
    generated oracle text), so both engines hash identically.
    """
    a = [(15485863 * (i + 1)) % 1073741789 for i in range(num_hashes)]
    b = [(32452843 * (i + 1)) % MINHASH_PRIME for i in range(num_hashes)]
    return a, b


def minhash_signatures(
    shingled: DataFrame, id_col: str = "doc_id", num_hashes: int = 16
) -> DataFrame:
    """K deterministic minhashes per doc over a shared integer base hash.

    base = first 12 hex chars of md5(shingle) mod p (ONE digest per shingle,
    not K), h_i = (a_i * base + b_i) mod p.  Aggregation state is K 8-byte
    longs instead of K 32-byte hex strings — ~4x less shuffle per doc and a
    single md5 in the scan — while staying engine-portable: any SQL engine
    with md5 + 64-bit ints reproduces the signature bit-for-bit
    (a_i < 2^30 and base < 2^32, so a_i * base + b_i < 2^63 never overflows).
    """
    a, b = minhash_params(num_hashes)
    base = F.pmod(
        F.conv(F.substring(F.md5(F.col("shingle")), 1, 12), 16, 10).cast("long"),
        F.lit(MINHASH_PRIME),
    )
    sh = shingled.withColumn("_x", base)
    mins = [
        F.min((F.lit(a[i]) * F.col("_x") + F.lit(b[i])) % F.lit(MINHASH_PRIME)).alias(f"mh{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy(id_col).agg(*mins)


def minhash_signatures_fused(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 16,
) -> DataFrame:
    """Per-doc minhash signatures with ONE fused hashing pass and a
    doc-count-bounded shuffle.

    Bit-for-bit identical to
    ``minhash_signatures(word_shingles(docs, id_col, text_col, k), ...)``
    (pinned by test_fused_minhash_equivalence): the shingling and the base
    hash happen inside ONE narrow generator expression over the scan, the
    already-hashed 8-byte values are exploded, and the K per-permutation
    mins are a map-side-combined groupBy — partial aggregation collapses
    each doc to one (K+1)-long row inside its input partition (docs never
    straddle partitions), so the exchange moves ~8(K+1) bytes per DOC, not
    per shingle.  Docs with no non-empty shingle produce no signature row
    (explode of an empty/NULL array emits nothing — matching the groupBy
    path, where they have no rows to aggregate).

    This replaced round 5's zero-shuffle transform+array_min formulation:
    higher-order functions are interpreted (no codegen), the K min
    transforms re-scanned the hashed array K times, and the ``size(_xs)>0``
    guard was pushed below ``_spread``'s repartition where it re-evaluated
    the whole md5 chain nearly serially — measured 3.7s vs 0.5s for the
    same signatures on the sf0.1 corpus (r6).  Here every per-element op
    after the generator runs in whole-stage codegen.
    """
    a, b = minhash_params(num_hashes)
    base = F.transform(
        _shingle_array(F.col(text_col), k),
        lambda s: F.pmod(
            F.conv(F.substring(F.md5(s), 1, 12), 16, 10).cast("long"),
            F.lit(MINHASH_PRIME),
        ),
    )
    rows = _spread(docs).select(F.col(id_col), F.explode(base).alias("_x"))
    mins = [
        F.min((F.lit(a[i]) * F.col("_x") + F.lit(b[i])) % F.lit(MINHASH_PRIME)).alias(
            f"mh{i}"
        )
        for i in range(num_hashes)
    ]
    return rows.groupBy(id_col).agg(*mins)


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket: int | None = 64,
) -> DataFrame:
    """Band the signature and self-join per band bucket -> candidate pairs.

    Each band's signature is the concat of its rows; docs agreeing on any
    band become a candidate pair.  Output: (a, b) with a < b, distinct.

    ``max_bucket`` caps band-bucket membership: a bucket of M identical docs
    would otherwise emit M^2/2 pairs, and at 10^10 docs a boilerplate
    megabucket is quadratic death.  Buckets above the cap are dropped whole
    (their members are byte-near-identical and are caught by the exact-dedup
    pass); the drop is deterministic, so SQL oracles mirror it with a
    windowed count — the Spark side computes the same drop via
    ``groupBy + left_anti`` (see ``_drop_hot_keys``) so the megabucket never
    co-locates on one task.  Set None to disable.
    """
    # The signature frame is referenced FOUR times below (self-join left and
    # right, plus the hot-key count and its anti-join probe side) — pin it
    # with a lazy localCheckpoint so the shingle/md5 signature computation
    # runs once and the four consumers read the cached (doc, K longs) rows.
    # eager=False keeps composition lazy (first downstream action
    # materializes); blocks are reclaimed when the frame is GC'd.
    signatures = signatures.localCheckpoint(eager=False)
    rows_per_band = num_hashes // bands
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(F.struct(F.lit(b).alias("band"), F.concat_ws("|", *cols).alias("sig")))
    banded = signatures.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bb")
    ).select(F.col(id_col), F.col("bb.band").alias("band"), F.col("bb.sig").alias("sig"))
    if max_bucket is not None:
        banded = _drop_hot_keys(banded, ["band", "sig"], max_bucket)
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.sig") == F.col("r.sig"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(F.col(f"l.{id_col}").alias("a"), F.col(f"r.{id_col}").alias("b"))
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = 1000,
) -> DataFrame:
    """Exact Jaccard over k-word shingle sets for pairs sharing >=1 shingle.

    inter(a,b) counted by the shingle self-join; union = |A|+|B|-inter.
    Quadratic in the worst case — use after LSH blocking at scale; exact on
    its own for small corpora / verification.

    ``max_doc_freq`` drops shingles present in more than that many docs from
    the self-join (a single hot shingle like "click here to" pairs every doc
    containing it — quadratic).  Set sizes stay exact (computed pre-cap), so
    with capping the reported jaccard is a deterministic LOWER BOUND; pairs
    whose overlap is carried only by stop-shingles fall out, which is the
    desired behavior for near-dup mining.  Set None for exact.
    """
    sh = word_shingles(docs, id_col, text_col, k)
    # set sizes fused per doc (size of the distinct-shingle array) — same
    # value as counting sh's rows per doc, without that groupBy's shuffle.
    # The emptiness guard is the CHEAP equivalent predicate on the text
    # itself (_has_shingles), applied BEFORE the projection.  Filtering on
    # the aliased size column instead re-evaluates the whole interpreted
    # shingle expression below the repartition (see word_shingles
    # docstring).
    sizes = (
        _spread(docs)
        .filter(_has_shingles(F.col(text_col), k))
        .select(F.col(id_col), F.size(_shingle_array(F.col(text_col), k)).alias("n"))
    )
    if max_doc_freq is not None:
        sh = _drop_hot_keys(sh, ["shingle"], max_doc_freq)
    l, r = sh.alias("l"), sh.alias("r")
    inter = (
        l.join(
            r,
            (F.col("l.shingle") == F.col("r.shingle"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .groupBy(F.col(f"l.{id_col}").alias("a"), F.col(f"r.{id_col}").alias("b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("a"), F.col("n").alias("na"))
    sb = sizes.select(F.col(id_col).alias("b"), F.col("n").alias("nb"))
    return (
        inter.join(sa, "a")
        .join(sb, "b")
        .select(
            "a",
            "b",
            (F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit simhash fingerprint as two 32-bit halves (fp_hi, fp_lo).

    Per distinct word, md5 -> 64 bit-votes (+1/-1) taken from the first 16
    hex nibbles of the digest, summed per doc; fingerprint bit b = 1 iff the
    vote is positive.  md5-nibble votes (instead of xxhash64) make the
    fingerprint engine-portable: any SQL engine with md5 + strpos reproduces
    it bit-for-bit, which is what lets the driver oracle check it.  Two
    32-bit halves avoid 64-bit sign/overflow differences across engines.

    Pure built-in expressions (explode + bitwise ops + aggregate), no UDF.
    """
    words = _spread(docs).select(
        F.col(id_col), F.explode(F.array_distinct(_norm_words(F.col(text_col)))).alias("w")
    ).filter(F.length("w") > 0)
    d = F.md5(F.col("w"))
    nibs = [F.conv(F.substring(d, j + 1, 1), 16, 10).cast("int") for j in range(16)]
    votes = []
    for b in range(64):
        bit = F.shiftright(nibs[b // 4], b % 4).bitwiseAND(F.lit(1))
        votes.append(F.sum(F.when(bit == 1, 1).otherwise(-1)).alias(f"v{b}"))
    agg = words.groupBy(id_col).agg(*votes)

    def half(off: int):
        e = F.lit(0).cast("long")
        for k in range(32):
            e = e + F.when(
                F.col(f"v{off + k}") > 0, F.lit(1 << k).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        return e

    return agg.select(F.col(id_col), half(32).alias("fp_hi"), half(0).alias("fp_lo"))


def simhash_near_dups(
    fps: DataFrame, id_col: str = "doc_id", max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs via 4-block pigeonhole blocking: split the 64-bit
    fingerprint into four 16-bit blocks; any pair with hamming <= 3 differs
    in at most 3 blocks, so it MUST agree on at least one — the block
    equi-join has 100% recall at max_hamming <= 3 (the classic Manku/Jain/
    Sarma simhash dedup layout) while bounding the self-join to same-block
    buckets.  For max_hamming > 3 more blocks would be needed; this raises.
    """
    if max_hamming > 3:
        raise ValueError("4-block blocking guarantees recall only for max_hamming <= 3")
    # the fingerprint frame feeds BOTH sides of the block self-join — pin it
    # (lazy localCheckpoint, 3 longs per doc) so the md5 fingerprint pass
    # runs once, not once per join side
    fps = fps.localCheckpoint(eager=False)
    blocks = F.array(
        F.shiftrightunsigned(F.col("fp_hi"), 16),
        F.col("fp_hi").bitwiseAND(F.lit(0xFFFF)),
        F.shiftrightunsigned(F.col("fp_lo"), 16),
        F.col("fp_lo").bitwiseAND(F.lit(0xFFFF)),
    )
    b = fps.select(
        F.col(id_col), F.col("fp_hi"), F.col("fp_lo"), F.posexplode(blocks).alias("blk", "val")
    )
    l, r = b.alias("l"), b.alias("r")
    pairs = (
        l.join(
            r,
            (F.col("l.blk") == F.col("r.blk"))
            & (F.col("l.val") == F.col("r.val"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("a"),
            F.col(f"r.{id_col}").alias("b"),
            F.col("l.fp_hi").alias("_lhi"),
            F.col("l.fp_lo").alias("_llo"),
            F.col("r.fp_hi").alias("_rhi"),
            F.col("r.fp_lo").alias("_rlo"),
        )
        .distinct()
    )
    ham = (
        F.bit_count(F.col("_lhi").bitwiseXOR(F.col("_rhi")))
        + F.bit_count(F.col("_llo").bitwiseXOR(F.col("_rlo")))
    ).cast("int")
    return pairs.select("a", "b", ham.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


def decontaminate(
    train: DataFrame,
    evalset: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = 1000,
) -> DataFrame:
    """Train/eval contamination report: for each eval doc, the fraction of
    its distinct k-word shingles that appear ANYWHERE in the training
    corpus (the GPT-3/PaLM-style n-gram decontamination check).

    Output: (doc_id, n_shingles, n_matched, overlap_frac, contaminated)
    one row per eval doc with at least one shingle; `contaminated` =
    overlap_frac >= threshold.  overlap_frac is rounded in exact integer
    space (round-half-up on the true rational) so any SQL engine
    reproduces it bit-for-bit.

    Scale shape: the train side reduces to its DISTINCT shingle set
    (vocabulary-bounded, one partial-agg shuffle), the eval side is a
    LEFT SEMI-shaped membership join on the shingle hash — no (train_doc,
    eval_doc) pair is ever materialized, so this is linear in corpus size,
    not quadratic like pairwise jaccard.  ``max_doc_freq`` (on the TRAIN
    side, per-shingle doc frequency) drops boilerplate shingles that occur
    in more than that many train docs before the membership join — they
    carry no contamination signal and their eval fan-in is a hot-key skew
    hazard; the drop makes overlap_frac a deterministic LOWER BOUND, the
    conservative direction for a keep/drop decision on eval integrity.
    Set None for the exact check.
    """
    train_sh = word_shingles(train, id_col, text_col, k)
    if max_doc_freq is not None:
        # The cap FUSES into the vocabulary aggregation: word_shingles is
        # distinct-per-doc, so count(*) per shingle IS the doc frequency,
        # and one map-side-combinable groupBy yields the capped vocab
        # directly — no window (megakey never co-locates) and no join-back.
        train_vocab = (
            train_sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_doc_freq)
            .select("shingle")
        )
    else:
        train_vocab = train_sh.select("shingle").distinct()
    eval_sh = word_shingles(evalset, id_col, text_col, k)
    # cheap equivalent emptiness guard BEFORE the size projection (see the
    # ngram_jaccard_pairs sizes comment); without it a text with no
    # shingle divides by n_shingles = 0
    sizes = (
        _spread(evalset)
        .filter(_has_shingles(F.col(text_col), k))
        .select(F.col(id_col), F.size(_shingle_array(F.col(text_col), k)).alias("n_shingles"))
    )
    matched = (
        eval_sh.join(train_vocab, "shingle", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_matched"))
    )
    frac = (
        F.expr(
            "(CAST(20000 AS DECIMAL(38,0)) * n_matched + n_shingles) div (2 * n_shingles)"
        )
        / 10000.0
    )
    return (
        sizes.join(matched, id_col, "left")
        .na.fill({"n_matched": 0})
        .select(
            F.col(id_col),
            F.col("n_shingles"),
            F.col("n_matched"),
            frac.alias("overlap_frac"),
            (frac >= F.lit(threshold)).alias("contaminated"),
        )
    )


def contaminated_train_docs(
    train: DataFrame,
    evalset: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = 1000,
) -> DataFrame:
    """Train docs that CONTAIN an eval doc: (train doc_id, max_coverage,
    n_eval_hit) for every train doc where some eval doc has >= ``threshold``
    of ITS OWN shingles present in that train doc.

    This is the corpus-side drop list.  Normalization is EVAL-side —
    coverage(t, e) = |shingles(t) ∩ shingles(e)| / |shingles(e)| — because
    the dominant real contamination shape is a long web page containing a
    short benchmark item verbatim: train-side normalization (see
    ``decontaminate``, the per-eval audit) dilutes that to ~0 and misses it
    (review finding).  Join shape: eval shingle sets are benchmark-sized,
    so the shingle equi-join fans out per train doc by at most the eval
    vocabulary it shares; ``max_doc_freq`` drops boilerplate shingles
    present in more than that many TRAIN docs (they pair every train doc
    with every eval doc sharing a stop-phrase — skew with no signal),
    making coverage a deterministic lower bound over distinctive shingles.
    """
    train_sh = word_shingles(train, id_col, text_col, k)
    if max_doc_freq is not None:
        train_sh = _drop_hot_keys(train_sh, ["shingle"], max_doc_freq)
    eval_sh = word_shingles(evalset, id_col, text_col, k).select(
        F.col(id_col).alias("_eid"), "shingle"
    )
    eval_sizes = (
        _spread(evalset)
        .filter(_has_shingles(F.col(text_col), k))
        .select(
            F.col(id_col).alias("_eid"),
            F.size(_shingle_array(F.col(text_col), k)).alias("_esz"),
        )
    )
    inter = (
        train_sh.join(eval_sh, "shingle")
        .groupBy(id_col, "_eid")
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    cov = inter.join(eval_sizes, "_eid").select(
        F.col(id_col),
        (
            F.expr("(CAST(20000 AS DECIMAL(38,0)) * _inter + _esz) div (2 * _esz)")
            / 10000.0
        ).alias("_cov"),
    )
    return (
        cov.filter(F.col("_cov") >= threshold)
        .groupBy(id_col)
        .agg(
            F.max("_cov").alias("max_coverage"),
            F.count(F.lit(1)).alias("n_eval_hit"),
        )
    )
