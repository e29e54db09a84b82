"""Text analysis for training-data pipelines — all JVM-side built-ins.

Language ID (stopword-marker heuristic), quality scoring (length / punct /
stopword ratios), token counting (whitespace + BPE-ish regex), and document
fingerprinting.  Every function is a pure Column expression -> whole-stage
codegen, no UDFs, deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ape_dts_spark.operators.text_dedup import _norm_words, _spread

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it", "for", "on"]

# tiny marker lexicons per language — deterministic n-gram/stopword heuristic
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of"],
    "de": ["der", "und", "die"],
    "fr": ["le", "et", "les"],
    "es": ["el", "y", "los"],
}


# Tokenization here MUST stay bit-identical to the dedup family's shingling
# input (minhash/simhash read the same words) — one definition, not a copy.
_words = _norm_words


def token_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Whitespace tokens + a BPE-ish subword proxy (runs of letters/digits/
    punctuation as separate tokens — the standard pretokenizer split)."""
    ws = F.size(F.filter(_words(F.col(text_col)), lambda w: F.length(w) > 0))
    # RE2-safe pretokenizer (no lookarounds): letter/digit runs and single
    # punctuation marks each count as one token
    bpe_ish = F.size(F.regexp_extract_all(F.col(text_col), F.lit(r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"), 0))
    return docs.select(
        F.col(id_col),
        ws.cast("long").alias("n_tokens_ws"),
        bpe_ish.cast("long").alias("n_tokens_bpe"),
        F.length(F.col(text_col)).cast("long").alias("n_chars"),
    )


def _round4_div(num: str, den: str):
    """round(num/den, 4) computed in EXACT integer space (round-half-up on
    the true rational, decimal(38,0) against overflow) — round() on the
    double quotient lands on representation boundaries and diverges across
    engines (e.g. a true ratio of X.xxxx5 whose nearest double sits just
    below the half).  The DuckDB oracle mirrors the same formula with
    HUGEINT `//`."""
    return F.expr(f"(CAST(20000 AS DECIMAL(38,0)) * ({num}) + ({den})) div (2 * ({den}))") / 10000.0


def quality_score(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Gopher/C4-style cheap quality signals + a composite score in [0,1].

    All signal counts are integers; every rounded output is computed with
    exact integer round-half-up (see _round4_div), including the composite:
        score = (2*min(w,50)/50*... ) / 5
    rewritten over the common denominator 250*max(w,1)*max(c,1), so the
    reported 4-digit values are identical on any engine with exact integer
    division."""
    words = F.filter(_words(F.col(text_col)), lambda w: F.length(w) > 0)
    base = docs.select(
        F.col(id_col),
        F.size(words).cast("long").alias("_w"),
        F.length(F.col(text_col)).cast("long").alias("_c"),
        F.size(F.filter(words, lambda w: w.isin(STOPWORDS))).cast("long").alias("_sh"),
        (
            F.length(F.col(text_col))
            - F.length(F.regexp_replace(F.col(text_col), r"[^\w\s]", ""))
        ).cast("long").alias("_p"),
        F.length(F.regexp_replace(F.col(text_col), r"[^A-Za-z]", "")).cast("long").alias("_a"),
    )
    zero = F.lit(0.0)
    # composite numerator over D0 = 50*max(w,1)*max(c,1); score = N/(5*D0);
    # the degenerate-denominator conventions (w=0 -> ratio 0, c=0 -> punct
    # term 1) fall out of the greatest(.,1) guards because the matching
    # numerators are 0 there
    score_n = (
        "2 * least(_w, 50) * greatest(_w, 1) * greatest(_c, 1)"
        " + 50 * greatest(_c, 1) * least(5 * _sh, _w)"
        " + 50 * greatest(_w, 1) * _a"
        " + 50 * greatest(_w, 1) * (greatest(_c, 1) - least(4 * _p, _c))"
    )
    score_d = "250 * greatest(_w, 1) * greatest(_c, 1)"
    return base.select(
        F.col(id_col),
        F.col("_w").alias("n_words"),
        F.when(F.col("_w") > 0, _round4_div("_c", "_w")).otherwise(zero).alias("mean_word_len"),
        F.when(F.col("_w") > 0, _round4_div("_sh", "_w")).otherwise(zero).alias("stopword_ratio"),
        F.when(F.col("_c") > 0, _round4_div("_p", "_c")).otherwise(zero).alias("punct_ratio"),
        F.when(F.col("_c") > 0, _round4_div("_a", "_c")).otherwise(zero).alias("alpha_ratio"),
        _round4_div(score_n, score_d).alias("quality_score"),
    )


def language_id(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Marker-word language heuristic: count marker hits per language, take
    the argmax — ties broken by the lexicographically LATEST language code
    (fr > es > en > de), 'und' if nothing hits.  The DuckDB oracle encodes
    the same tie-break (its CASE tests codes in descending order)."""
    words = _words(F.col(text_col))

    def _hits(markers):
        # NB: the HOF lambda must be single-arg — a second (default) arg would
        # be interpreted by Spark as the element-index parameter
        return F.size(F.filter(words, lambda w: w.isin(*markers)))

    scores = [
        F.struct(_hits(markers).alias("hits"), F.lit(lang).alias("lang"))
        for lang, markers in sorted(LANG_MARKERS.items())
    ]
    # argmax: descending struct sort = highest hits first, ties -> latest code
    arr = F.sort_array(F.array(*scores), asc=False)
    best = arr[0]
    pred = F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))
    return docs.select(F.col(id_col), pred.alias("pred_lang"), best["hits"].cast("long").alias("marker_hits"))


def quality_filter(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 60,
    min_stop_ratio: float = 0.03,
    max_punct_ratio: float = 0.2,
    min_alpha_ratio: float = 0.5,
    with_signals: bool = False,
) -> DataFrame:
    """C4/Gopher-style keep/drop decision over the quality signals.

    -> (id, keep, drop_reason): first failing rule wins, in a fixed order
    (too_short -> low_stopword -> high_punct -> low_alpha), reason NULL for
    keepers.  Built on quality_score's ROUNDED signals so the decision is
    bit-reproducible across engines; pure Column expressions on top of the
    same single-pass scan.  `with_signals=True` also carries the
    quality_score columns through (one scan for signals AND decision — the
    audit-table shape)."""
    q = quality_score(docs, id_col, text_col)
    reason = (
        F.when(F.col("n_words") < min_words, F.lit("too_short"))
        .when(F.col("stopword_ratio") < min_stop_ratio, F.lit("low_stopword"))
        .when(F.col("punct_ratio") > max_punct_ratio, F.lit("high_punct"))
        .when(F.col("alpha_ratio") < min_alpha_ratio, F.lit("low_alpha"))
        .otherwise(F.lit(None).cast("string"))
    )
    lead = [F.col(c) for c in q.columns] if with_signals else [F.col(id_col)]
    return q.select(
        *lead,
        reason.isNull().alias("keep"),
        reason.alias("drop_reason"),
    )


def repetition_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals per document.

    - ttr: type-token ratio (distinct words / words) — low = repetitive
    - top_word_frac: share of the single most frequent word
    - dup_bigram_frac: share of bigram occurrences that are repeats

    All three signals are pure array expressions — zero shuffle, whole-
    stage codegen.  ttr and dup_bigram_frac are size vs size∘array_distinct;
    top_word_frac is the longest equal-run of the SORTED word array
    (array_sort + aggregate, O(n log n) per doc) — equal to the max
    per-word count without the explode -> groupBy(doc, word) ->
    groupBy(doc) -> join-back chain, whose three shuffles moved every
    (doc, word) row.  Docs with no non-empty word produce no row (matching
    the old inner join against the exploded counts).
    """
    words = F.filter(_words(F.col(text_col)), lambda w: F.length(w) > 0)
    n = F.size(words)
    bigrams = F.transform(
        F.sequence(F.lit(0), F.greatest(n - 2, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(words, i + 1, 2)),
    )
    # longest equal-run over the sorted array == max count of any word;
    # prev="" can never match a real word (empty words are filtered out)
    def _run(acc, x):
        new_run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            new_run.alias("run"),
            F.greatest(acc["best"], new_run).alias("best"),
        )

    top_count = F.aggregate(
        F.array_sort(words),
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        _run,
        lambda acc: acc["best"],
    )
    base = _spread(docs).select(
        F.col(id_col),
        n.alias("_n"),
        F.size(F.array_distinct(words)).alias("_types"),
        F.size(bigrams).alias("_nb"),
        F.size(F.array_distinct(bigrams)).alias("_db"),
        top_count.alias("_top"),
    )
    # All three ratios are integer/integer: round in exact integer space
    # (_round4_div) — round() on the double quotient diverges across engines
    # at representation boundaries (the reproduced skew_ratio failure class).
    return (
        base.filter(F.col("_n") > 0)
        .select(
            F.col(id_col),
            F.col("_n").cast("long").alias("n_words"),
            _round4_div("_types", "_n").alias("ttr"),
            _round4_div("_top", "_n").alias("top_word_frac"),
            _round4_div("_nb - _db", "_nb").alias("dup_bigram_frac"),
        )
    )


def length_histogram(
    docs: DataFrame, lang_col: str = "lang", chars_col: str = "n_chars", width: int = 50
) -> DataFrame:
    """Corpus length profile: (lang, bucket_lo, n_docs, avg_chars) — the
    standard pre-training length-distribution audit.  One partial-agg
    shuffle on (lang, bucket); avg over exact integer sums so it is
    engine-portable bit-for-bit."""
    bucket = (F.floor(F.col(chars_col) / width) * width).cast("long")
    return (
        docs.groupBy(F.col(lang_col).alias("lang"), bucket.alias("bucket_lo"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(chars_col).alias("_sum_chars"),
        )
        .select(
            "lang",
            "bucket_lo",
            "n_docs",
            # round(sum/n, 2) via exact integer round-half-up — NOT
            # round(avg(double)): boundary quotients diverge across engines.
            (
                F.expr(
                    "(CAST(200 AS DECIMAL(38,0)) * _sum_chars + n_docs)"
                    " div (2 * n_docs)"
                )
                / 100.0
            ).alias("avg_chars"),
        )
    )


def corpus_ngram_topk(
    docs: DataFrame, text_col: str = "text", k: int = 2, topn: int = 20
) -> DataFrame:
    """Corpus-wide top-N k-gram frequency (the boilerplate/contamination
    scan).  Map-side: per-doc k-gram arrays (codegen).  One shuffle:
    groupBy(ngram) with partial aggregation, then a global top-N — the
    ordering key (count desc, ngram asc) is total, so the cut is
    deterministic.  At 10^10 docs the groupBy output is vocabulary-sized
    (<< corpus) and the top-N is a single reduce of per-partition heads."""
    words = F.filter(_words(F.col(text_col)), lambda w: F.length(w) > 0)
    n = F.size(words)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(n - k, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(words, i + 1, k)),
    )
    return (
        _spread(docs).select(F.explode(grams).alias("ngram"))
        .filter(F.length("ngram") > 0)
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("ngram").asc())
        .limit(topn)
    )


def fingerprint(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Content fingerprints: full-text digest, normalized digest (case/space
    insensitive), and a head fingerprint over the first 8 words — the cheap
    building blocks of URL-level / doc-level dedup cascades."""
    norm = F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")
    head = F.concat_ws(" ", F.slice(_words(F.col(text_col)), 1, 8))
    return docs.select(
        F.col(id_col),
        F.md5(F.col(text_col)).alias("digest"),
        F.md5(F.trim(norm)).alias("digest_norm"),
        F.md5(head).alias("digest_head"),
    )


def _hash_slot(id_col: str, seed: str):
    """Deterministic slot in [0, 1e6) from (seed, id) — md5-based like the
    dedup family, engine-portable, no RNG state.  Shared by the split /
    sample / mix family so their decisions compose (nested samples, stable
    splits)."""
    return F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(seed + ":"), F.col(id_col).cast("string"))), 1, 12
            ),
            16,
            10,
        ).cast("long"),
        F.lit(1_000_000),
    )


def deterministic_split(
    docs: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    seed: str = "split",
) -> DataFrame:
    """Assign each doc to a named split (train/val/test/...) purely as a
    function of its id — reproducible across runs, cluster sizes, and
    engines (md5-based like the dedup family, no RNG state).  Zero shuffle:
    one projection.  ``weights`` are relative (normalized internally);
    boundaries are exact integers out of 1e6 so the assignment is stable
    even for pathological float weights.  Changing ``seed`` re-deals the
    whole assignment; adding docs never moves existing ones between splits.
    """
    if not weights or any(w < 0 for w in weights.values()) or sum(weights.values()) <= 0:
        raise ValueError("weights must be a non-empty dict of non-negative values, sum > 0")
    total = float(sum(weights.values()))
    slot = _hash_slot(id_col, seed)
    # CUMULATIVE boundaries, each rounded independently (largest-remainder
    # style): cumulating per-split rounded increments lets errors stack and
    # can zero out a later split.  A positive-weight split whose slot range
    # still collapses to empty (share below the 1e-6 slot resolution, or a
    # preceding boundary rounding to the full range) is an error, not a
    # silent empty split (review finding).
    names = list(weights)
    bounds, cum = [], 0.0
    for name in names[:-1]:
        cum += weights[name]
        bounds.append(int(round(1_000_000 * cum / total)))
    lo = 0
    for name, hi in zip(names, bounds + [1_000_000]):
        if weights[name] > 0 and hi <= lo:
            raise ValueError(
                f"split '{name}' has positive weight but an empty slot range "
                f"[{lo}, {hi}) — weight share is below the 1e-6 resolution"
            )
        lo = hi
    expr = F.lit(names[-1])
    for name, b in zip(reversed(names[:-1]), reversed(bounds)):
        expr = F.when(slot < b, F.lit(name)).otherwise(expr)
    # nested whens evaluate in ascending-bound order: first match wins
    return docs.withColumn("split", expr)


def deterministic_sample(
    docs: DataFrame, fraction: float, id_col: str = "doc_id", seed: str = "sample"
) -> DataFrame:
    """Reproducible Bernoulli sample: keep iff md5-hash slot < fraction.
    Unlike DataFrame.sample, the kept set is a pure function of (id, seed)
    — identical across runs, partitionings and cluster sizes, and a
    SUPERSET relation holds between fractions (the f=0.1 sample is a
    subset of the f=0.2 sample, same seed) so corpus mixes can be tuned
    monotonically.  Zero shuffle."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError("fraction must be in [0, 1]")
    return docs.filter(
        _hash_slot(id_col, seed) < F.lit(int(round(1_000_000 * fraction)))
    )


def corpus_mix(
    sources: dict[str, DataFrame],
    weights: dict[str, float],
    id_col: str = "doc_id",
    seed: str = "mix",
) -> DataFrame:
    """Deterministic weighted corpus mix: downsample each named source so
    the OUTPUT proportions match ``weights`` as closely as the inputs
    allow, then union (with a ``source`` label column).

    The binding constraint is the scarcest source relative to its target
    share: total = min over s of count(s) / share(s); every source is then
    Bernoulli-thinned (the md5 hash slot, per-source seed) to
    total * share(s) of its rows.  The scarce source keeps everything, the
    abundant ones are thinned — the standard pre-training mix recipe,
    reproducible across runs and cluster sizes.  One count() per source is
    the only eager work; the sampled union stays lazy.

    The slot thresholds are computed in EXACT rational arithmetic
    (fractions.Fraction, floor to the 1e-6 slot grid) — never a float
    product — so with integer/rational weights any SQL engine reproduces
    the kept set bit-for-bit from the same counts:
    thr(s) = floor(1e6 * budget * share(s) / count(s)), budget =
    min_m(count(m)/share(m)).  That is what lets the driver oracle
    value-check mix MEMBERSHIP, not just proportions.
    """
    from fractions import Fraction

    if set(sources) != set(weights):
        raise ValueError("sources and weights must carry the same names")
    if not sources:
        raise ValueError("at least one source required")
    if sum(weights.values()) <= 0 or any(w < 0 for w in weights.values()):
        raise ValueError("weights must be non-negative, sum > 0")
    total_w = sum(Fraction(w) for w in weights.values())
    share = {n: Fraction(w) / total_w for n, w in weights.items()}
    # zero-weight sources contribute no rows — skip even counting them
    live = [n for n in sources if share[n] > 0]
    counts = {n: sources[n].count() for n in live}
    empty = [n for n in live if counts[n] == 0]
    if empty:
        # budget = min(count/share) would be 0: EVERY source would thin to
        # zero rows and the mix would silently be empty — fail loudly
        raise ValueError(
            f"positive-weight source(s) with zero rows: {empty}; "
            "drop them from the mix or give them weight 0"
        )
    budget = min(Fraction(counts[n]) / share[n] for n in live)
    out = None
    for n in live:
        thr = min(1_000_000, int(1_000_000 * budget * share[n] / counts[n]))
        part = sources[n].filter(
            _hash_slot(id_col, f"{seed}:{n}") < F.lit(thr)
        ).withColumn("source", F.lit(n))
        out = part if out is None else out.unionByName(part)
    return out


def line_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_line_docs: int = 10,
    min_line_chars: int = 1,
) -> DataFrame:
    """CCNet-style line-level boilerplate removal: drop every LINE that
    appears (normalized) in more than ``max_line_docs`` distinct documents —
    nav bars, cookie banners, footers — and reassemble each document from
    its surviving lines in order.

    -> (id, text_clean, n_lines, n_kept): documents whose lines are ALL
    boilerplate come back with text_clean = '' (the caller's quality filter
    drops them).  Lines are normalized for the frequency count
    (lower + trim + whitespace-collapse) but reassembled VERBATIM, so
    surviving content is byte-identical to the input.

    Scale shape (the r5 cap pattern, not a window): per-line doc frequency
    is a groupBy on the normalized-line hash — map-side partial aggregation
    reduces "click here to accept cookies" x 10^9 docs to one row per map
    task — and the over-threshold line list (tiny by construction: at most
    |lines| / max_line_docs entries) anti-joins back, which AQE turns into
    a broadcast.  posexplode keeps (doc, line_no) so reassembly is a
    groupBy(doc) over sort_array — one shuffle each side, no quadratic
    term, no Python.  Deterministic and engine-portable (md5 line hash):
    the DuckDB oracle reproduces every kept line.
    """
    lines = _spread(docs).select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), r"\n")).alias("line_no", "line"),
    )
    norm = F.regexp_replace(F.lower(F.trim(F.col("line"))), r"\s+", " ")
    keyed = lines.withColumn("_h", F.md5(norm)).withColumn(
        "_skip", F.length(F.trim(F.col("line"))) < min_line_chars
    )
    # doc frequency per normalized line: distinct docs, not occurrences — a
    # page repeating its own footer 3x is one vote
    hot = (
        keyed.filter(~F.col("_skip"))
        .select("_h", id_col)
        .distinct()
        .groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") > max_line_docs)
        .select("_h")
    )
    kept = keyed.join(hot, ["_h"], "left_anti")
    reassembled = kept.groupBy(id_col).agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("line_no"), F.col("line")))
                ),
                lambda s: s["line"],
            ),
        ).alias("text_clean"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    totals = _spread(docs).select(
        F.col(id_col), F.size(F.split(F.col(text_col), r"\n")).alias("n_lines")
    )
    return (
        totals.join(reassembled, id_col, "left")
        .na.fill({"text_clean": "", "n_kept": 0})
        .select(id_col, "text_clean", "n_lines", F.col("n_kept").cast("long").alias("n_kept"))
    )


def doc_chunk(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_words: int = 256,
    overlap_words: int = 32,
) -> DataFrame:
    """Split documents into fixed word-window chunks with overlap — the
    standard pretraining / retrieval chunking pass before tokenization.

    -> (id, chunk_id, text_chunk, n_words): chunk_id is 0-based, stride =
    chunk_words - overlap_words, the last chunk may be short, a document
    shorter than one window yields exactly one chunk, and an empty/
    whitespace-only document yields none.  Chunk text is the window's words
    joined with single spaces (whitespace-normalized by construction —
    chunking feeds tokenizers, which treat runs of whitespace as one).

    Zero shuffle: split + sequence + transform + posexplode inside one
    projection; deterministic and engine-portable (exact integer chunk
    count), so the DuckDB oracle reproduces every chunk boundary.
    """
    if chunk_words < 1 or not 0 <= overlap_words < chunk_words:
        raise ValueError("need chunk_words >= 1 and 0 <= overlap_words < chunk_words")
    stride = chunk_words - overlap_words
    words = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda w: F.length(w) > 0
    )
    n = F.size(F.col("_w"))
    # integer ceil division: (n - overlap + stride - 1) div stride, min 1
    n_chunks = F.greatest(
        F.expr(f"CAST((size(_w) - {overlap_words} + {stride - 1}) DIV {stride} AS BIGINT)"),
        F.lit(1).cast("long"),
    )
    chunks = F.transform(
        F.sequence(F.lit(0).cast("long"), n_chunks - 1),
        lambda c: F.struct(
            c.cast("long").alias("chunk_id"),
            F.concat_ws(
                " ", F.slice(F.col("_w"), (c * stride + 1).cast("int"), chunk_words)
            ).alias("text_chunk"),
            F.least(F.lit(chunk_words).cast("long"), n - c * stride).alias("n_words"),
        ),
    )
    # emptiness guard as the cheap codegen predicate on the raw text (a
    # non-whitespace character <=> at least one non-empty token; Spark's
    # trim strips only spaces, so a tab-only text trims non-empty):
    # filtering on size(_w) would be substituted below _spread's
    # repartition and re-evaluate the interpreted words expression on the
    # un-spread input (see text_dedup.word_shingles)
    return (
        _spread(docs)
        .filter(F.col(text_col).rlike(r"\S"))
        .select(F.col(id_col), words.alias("_w"))
        .select(F.col(id_col), F.explode(chunks).alias("_c"))
        .select(
            F.col(id_col),
            F.col("_c.chunk_id").alias("chunk_id"),
            F.col("_c.text_chunk").alias("text_chunk"),
            F.col("_c.n_words").alias("n_words"),
        )
    )


def winnowing_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (the MOSS scheme, Schleimer/
    Wilkerson/Aiken 2003): hash every k-word gram, slide a window of
    ``window`` consecutive gram hashes, keep each window's MINIMUM hash —
    guaranteed to share a fingerprint with any other document that shares a
    run of at least k+window-1 words, while storing ~2/(window+1) of the
    gram hashes.

    -> (id, fp) exploded, distinct per doc: the join-ready fingerprint set
    for plagiarism-style overlap mining (pairs sharing a fingerprint share
    a verbatim word run).  md5-based gram hash — deterministic, engine-
    portable, bit-identical on the DuckDB oracle.  Zero shuffle up to the
    distinct: gram hashes, window minima and dedup all happen inside one
    array projection per document.
    """
    if k < 1 or window < 1:
        raise ValueError("need k >= 1 and window >= 1")
    words = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda w: F.length(w) > 0
    )
    n = F.size(F.col("_w"))
    idxs = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    gram_h = F.transform(
        idxs,
        lambda i: F.conv(
            F.substring(F.md5(F.concat_ws(" ", F.slice(F.col("_w"), i + 1, k))), 1, 12),
            16,
            10,
        ).cast("long"),
    )
    m = F.size(F.col("_h"))
    wins = F.sequence(F.lit(0), F.greatest(m - window, F.lit(0)))
    fps = F.array_distinct(
        F.transform(wins, lambda j: F.array_min(F.slice(F.col("_h"), j + 1, window)))
    )
    # the >=k-words guard as cheap codegen predicates on the raw text:
    # once leading/trailing whitespace of any kind is stripped (trim strips
    # only spaces), the split of text holding a non-whitespace character
    # yields exactly the non-empty words, so its size equals size(_w);
    # filtering on size(_w) itself would be substituted below _spread's
    # repartition and re-evaluate the interpreted words expression there
    # (see text_dedup.word_shingles)
    stripped = F.regexp_replace(F.col(text_col), r"^\s+|\s+$", "")
    enough = F.col(text_col).rlike(r"\S") & (F.size(F.split(stripped, r"\s+")) >= k)
    return (
        _spread(docs)
        .filter(enough)
        .select(F.col(id_col), words.alias("_w"))
        .select(F.col(id_col), gram_h.alias("_h"))
        .select(F.col(id_col), F.explode(fps).alias("fp"))
    )


def stratified_sample(
    docs: DataFrame,
    fractions: dict[str, float],
    group_col: str = "lang",
    id_col: str = "doc_id",
    seed: str = "strat",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Deterministic per-group Bernoulli sampling — the language/domain
    REBALANCING pass (e.g. keep 100% of low-resource languages, 10% of
    English).  Keep iff hash-slot(seed:id) < fraction(group); groups absent
    from ``fractions`` use ``default_fraction`` (0.0 = drop, the explicit
    allow-list posture).

    Same md5 slot as deterministic_sample, so the nested-superset property
    holds PER GROUP (raising one group's fraction only adds rows), and
    cross-operator composition is stable (a doc's slot is one number).
    Zero shuffle: one when-chain projection + filter, no join — group
    thresholds are compile-time literals, so a 10^10-doc scan pays one
    comparison per row.  Engine-portable: any SQL engine reproduces the
    kept set from the same thresholds.
    """
    for g, f in fractions.items():
        if not 0.0 <= f <= 1.0:
            raise ValueError(f"fraction for {g!r} must be in [0, 1]")
    if not 0.0 <= default_fraction <= 1.0:
        raise ValueError("default_fraction must be in [0, 1]")
    thr = F.lit(int(round(1_000_000 * default_fraction)))
    for g, f in fractions.items():
        thr = F.when(F.col(group_col) == g, F.lit(int(round(1_000_000 * f)))).otherwise(thr)
    return docs.filter(_hash_slot(id_col, seed) < thr)


def pack_shards(
    docs: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_streams: int = 32,
    seed: str = "pack",
    tokens_col: str | None = None,
) -> DataFrame:
    """Token-budget shard assignment — the distribution step of sequence
    packing: every training shard gets ~`budget` tokens of documents, in a
    deterministic order, so downstream tokenize+pack workers pull balanced,
    reproducible units of work.

    Output: (id_col, n_tokens, stream, shard) where (stream, shard) is the
    shard identity.  Docs are first hash-split into `n_streams` independent
    sub-streams (md5-slot — same family as deterministic_split, so the
    assignment is stable under corpus growth within a stream's order), then
    greedily packed IN slot order by a running token prefix-sum: a doc
    lands in shard floor(prefix_excl / budget), so each shard's total is
    < budget + its last doc's tokens (the standard greedy straddle).

    Scale note: the prefix-sum window partitions by `stream` — a UNIFORM
    hash split, not a data key, so unlike the banned count-over-hot-key
    pattern every partition holds ~1/n_streams of the corpus by
    construction; `n_streams` is the parallelism knob (set it ~= the
    cluster's task slots; the sequential prefix-sum is inherent to greedy
    packing and this is its standard parallelization).  `tokens_col` lets
    callers supply exact tokenizer counts instead of the whitespace proxy.
    """
    tok = (
        F.col(tokens_col)
        if tokens_col is not None
        else F.size(F.filter(_words(F.col(text_col)), lambda w: F.length(w) > 0))
    )
    slot = _hash_slot(id_col, seed)
    d = docs.select(
        F.col(id_col),
        tok.cast("long").alias("n_tokens"),
        slot.alias("_slot"),
    ).withColumn("stream", F.pmod(F.col("_slot"), F.lit(n_streams)).cast("int"))
    w = (
        Window.partitionBy("stream")
        .orderBy(F.col("_slot").asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return d.select(
        id_col,
        "n_tokens",
        "stream",
        F.floor(prefix / F.lit(int(budget))).cast("int").alias("shard"),
    )
