"""Corpus-curation operators for training-data pipelines:
benchmark-contamination checks, deterministic stratified sampling,
vocabulary statistics, and intra-document repetition metrics
(Gopher-style quality rules, Rae et al. 2021 §A1.1 — public paper).

Everything is integer arithmetic or a single IEEE division of two
exact integers, so every output is bit-identical between Spark and
the ANSI-SQL oracle (the repo's established exactness discipline).

Token-packing: n-gram keys default to base-256 positional packing
(t0*65536 + t1*256 + t2 at k=3), exact only for token ids in
[0, 256) — the canonical docs table's token space — and identically
expressible in DuckDB for the oracle gate. ``packing="hash"`` switches
to xxhash64 keys for real tokenizer vocabs (32k-256k ids); the join
shapes are unchanged (pytest-verified at k=5 on a >256-id fixture).
"""
from __future__ import annotations

import re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Per-operator hash salts. Every sampling/split operator draws its
# deterministic "coin" from md5(doc_id || ':' || salt) rather than the
# bare md5(doc_id): with a shared unsalted coin, composed stages are
# fully correlated (e.g. sample_rate('1000') keeps exactly the docs
# benchmark_split('0') would label benchmark — train would come out
# empty). Distinct salts make the coins independent. The DuckDB oracle
# uses the same `md5(doc_id || ':<salt>')` expression (md5 hex is
# identical cross-engine).
BENCH_SALT = "bench"
STRAT_SALT = "strat"
RATE_SALT = "rate"
MIX_SALT = "mix"


def _coin(salt: str):
    """Salted engine-reproducible uniform coin: md5 hex of
    ``doc_id || ':' || salt``."""
    return F.md5(F.concat(F.col("doc_id"), F.lit(":" + salt)))


def _norm_hex(rate_hex: str) -> str:
    """Normalize and validate a 4-hex-digit threshold. md5 hex is
    lowercase; an uppercase threshold would string-compare against
    'a'-'f' digits wrongly (silently skewing the rate), so reject
    anything but exactly four hex digits and lowercase it."""
    h = rate_hex.lower()
    if not re.fullmatch(r"[0-9a-f]{4}", h):
        raise ValueError(f"rate_hex must be 4 hex digits, got {rate_hex!r}")
    return h


def _shingles(k: int) -> str:
    """Spark SQL expr: list of packed k-gram keys over ``tokens``
    (0-based indexing; base-256 positional packing)."""
    terms = " + ".join(
        f"cast(tokens[i + {j}] as long) * {256 ** (k - 1 - j)}"
        for j in range(k))
    return f"transform(sequence(0, n_tok - {k}), i -> {terms})"


def _hash_shingles(k: int) -> str:
    """Spark SQL expr: xxhash64-packed k-gram keys — the large-vocab
    path (any int32 token ids; 64-bit keys, collision probability
    ~n²/2^65 — negligible at any realistic gram count per doc-pair
    comparison). Not reproducible in DuckDB (no compatible xxhash64),
    so this path is pytest-verified against the exact-tuple oracle
    rather than SQL-oracled."""
    args = ", ".join(f"tokens[i + {j}]" for j in range(k))
    return f"transform(sequence(0, n_tok - {k}), i -> xxhash64({args}))"


def doc_ngrams(docs: DataFrame, k: int = 3, distinct: bool = True,
               packing: str = "base256") -> DataFrame:
    """(doc_id, gram) exploded k-gram view; docs shorter than k emit
    nothing. ``distinct`` dedups grams within a doc (the standard
    decontamination convention: one hit per unique gram).

    ``packing="base256"`` (default): exact positional packing, valid
    only for token ids in [0, 256) — the canonical docs table — and
    identically expressible in DuckDB (the oracle gate's path).
    ``packing="hash"``: xxhash64 keys for arbitrary int token ids
    (real tokenizer vocabs are 32k-256k); same join shapes, 64-bit
    keys."""
    if packing == "base256":
        arr = F.expr(_shingles(k))
    elif packing == "hash":
        arr = F.expr(_hash_shingles(k))
    else:
        raise ValueError(f"unknown packing {packing!r}")
    if distinct:
        arr = F.array_distinct(arr)
    return (docs.where(F.col("n_tok") >= k)
            .select("doc_id", F.explode(arr).alias("gram")))


def contamination_check(docs: DataFrame, bench: DataFrame,
                        k: int = 3, packing: str = "base256") -> DataFrame:
    """Per-doc overlap of the doc's distinct k-grams with a benchmark
    set's gram universe — the standard train/eval decontamination
    scan (e.g. GPT-3 App. C; public).

    Returns (doc_id, n_grams, n_hit, hit_frac). Scale: the benchmark
    gram set is distinct'd then BROADCAST (eval suites are tiny next
    to the corpus), so the corpus side is one scan + one map-side
    hash join + one groupBy(doc_id) whose partial aggregation
    combines map-side; no corpus self-shuffle.

    ``packing``: "base256" (exact, token ids < 256, SQL-oracle-able)
    or "hash" (xxhash64 keys, any vocab size — see doc_ngrams)."""
    bench_grams = (doc_ngrams(bench, k, packing=packing)
                   .select("gram").distinct()
                   .withColumn("_hit", F.lit(1)))
    grams = doc_ngrams(docs, k, packing=packing)
    hits = (grams.join(F.broadcast(bench_grams), "gram", "left")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_grams"),
                 F.count("_hit").alias("n_hit")))
    return (docs.select("doc_id").join(hits, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
                F.coalesce("n_hit", F.lit(0)).alias("n_hit"))
            .withColumn(
                "hit_frac",
                F.when(F.col("n_grams") > 0,
                       F.col("n_hit").cast("double") /
                       F.col("n_grams").cast("double"))
                .otherwise(F.lit(0.0))))


def benchmark_split(docs: DataFrame, hex_prefix: str = "0") -> tuple[DataFrame, DataFrame]:
    """Deterministic (train, benchmark) split by salted-md5 prefix —
    md5 hex is identical in Spark and DuckDB, so the split is
    reproducible in the SQL oracle. prefix '0' ~ 1/16 of docs."""
    is_bench = (F.substring(_coin(BENCH_SALT), 1, len(hex_prefix))
                == hex_prefix.lower())
    return docs.where(~is_bench), docs.where(is_bench)


def sample_stratified(docs: DataFrame, quota: int,
                      by: str = "source") -> DataFrame:
    """Deterministic per-stratum quota sample: within each ``by``
    group keep the ``quota`` docs with the smallest
    (md5(doc_id), doc_id) — a seedless, engine-reproducible shuffle
    order (md5 is uniform on doc_id, so this is an unbiased k-sample
    per stratum).

    Returns (source, doc_id, rk). Scale: one shuffle on ``by``; the
    per-stratum top-k is a window row_number with partial top-k
    pushdown (Spark's WindowGroupLimit takes care of discarding
    beyond-quota rows before the sort spills); a hot stratum is
    bounded by quota on the output side."""
    w = Window.partitionBy(by).orderBy(_coin(STRAT_SALT), F.col("doc_id"))
    return (docs.select(by, "doc_id")
            .withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= quota))


def sample_rate(docs: DataFrame, rate_hex: str = "4000") -> DataFrame:
    """Deterministic Bernoulli-style sample: keep docs whose salted
    md5 4-hex prefix sorts below ``rate_hex``
    (rate = int(rate_hex,16)/65536; case-normalized + validated).
    Pure filter — pushes to the scan, no shuffle at any scale."""
    return docs.where(
        F.substring(_coin(RATE_SALT), 1, 4) < _norm_hex(rate_hex))


def mixture_sample(docs: DataFrame, weights: dict[str, float],
                   by: str = "source") -> DataFrame:
    """Deterministic source-mixture resampling (training data-mixing
    ratios): every doc of stratum s appears floor(w_s) times, plus one
    extra copy for the deterministic frac(w_s) share of docs whose
    salted md5 4-hex prefix sorts below hex(frac(w_s) * 65536) — an
    engine-reproducible coin independent of ``sample_rate``'s (own
    salt). Strata missing from ``weights`` get weight 0 (dropped).

    Fractional resolution is 1/65536 and the threshold is CLAMPED to
    65535 ("ffff"): frac(w) ∈ [65535/65536, 1) rounds DOWN to keeping
    ~65535/65536 of the stratum, never up to a 5-hex-digit threshold
    ("10000") that would corrupt the 4-char string comparison. An
    integer weight has frac 0 → threshold "0000" → exactly floor(w)
    copies, no bonus coin.

    Returns (source, doc_id, copy) with copy in 1..n_copies. Scale:
    pure per-row arithmetic + an explode bounded by ceil(w) — no
    shuffle, no window; pushes the weight-0 drop to the scan."""
    floor_col, thr_col = F.lit(0), F.lit("0000")
    for src, w in sorted(weights.items()):
        fw = int(w)
        frac_hex = format(min(int((w - fw) * 65536), 65535), "04x")
        floor_col = F.when(F.col(by) == src, F.lit(fw)).otherwise(floor_col)
        thr_col = F.when(F.col(by) == src, F.lit(frac_hex)).otherwise(thr_col)
    bonus = (F.substring(_coin(MIX_SALT), 1, 4) < thr_col).cast("int")
    n_copies = floor_col + bonus
    return (docs.select(by, "doc_id")
            .withColumn("_n", n_copies)
            .where(F.col("_n") > 0)
            .withColumn("copy", F.explode(F.sequence(F.lit(1), F.col("_n"))))
            .select(by, "doc_id", "copy"))


SHUFFLE_SALT = "shuffle"


def shuffle_key(salt: str = SHUFFLE_SALT):
    """Deterministic per-doc shuffle coordinate: md5(doc_id||':'||salt)
    — seedless, uniform, engine-reproducible (the repo's salted-coin
    idiom; independent of every sampling coin by salt)."""
    return _coin(salt)


def shuffle_corpus(docs: DataFrame, salt: str = SHUFFLE_SALT,
                   n_partitions: int | None = None) -> DataFrame:
    """Global training-corpus shuffle — the standard step before
    sequence packing so consecutive training sequences don't replay
    ingest order (per-source runs, crawl locality).

    Deterministic: order = md5(doc_id||':'||salt); rerunning (or
    resuming) yields the identical permutation, and changing ``salt``
    gives an independent one. Scale: ONE repartitionByRange on the
    16-byte key + a within-partition sort — the canonical way to
    execute a 10^12-row permutation (a global orderBy would plan the
    same range exchange; writing partition files in order then reading
    them sequentially replays the permuted corpus).

    To PACK in shuffled order, remap the packing id to the shuffle
    key: ``docs.withColumn("doc_id", concat(shuffle_key(), lit(":"),
    col("doc_id")))`` — pack_sequences orders by doc_id, so the
    prefixed id makes offsets follow the permutation while the
    original id stays recoverable after the first ':'."""
    out = docs.withColumn("_shuf", shuffle_key(salt))
    if n_partitions:
        out = out.repartitionByRange(n_partitions, "_shuf")
    else:
        out = out.repartitionByRange("_shuf")
    return out.sortWithinPartitions("_shuf").drop("_shuf")


def vocab_stats(docs: DataFrame, top_k: int = 32) -> DataFrame:
    """Corpus token-frequency table: occurrences and document
    frequency per token, ranked by (n_occur desc, token asc), top_k
    rows. Scale: explode + groupBy(token) with map-side partials;
    the ranked result is vocab-sized (tiny next to the corpus)."""
    frames = docs.select("doc_id", F.explode("tokens").alias("token"))
    stats = frames.groupBy("token").agg(
        F.count("*").alias("n_occur"),
        F.countDistinct("doc_id").alias("n_docs"))
    # The global rank window is deliberate: it runs on the
    # POST-aggregate table, which is vocab-sized (≤ |vocab| rows, not
    # corpus-sized), so single-partition is the right plan. Partition
    # by a constant-VALUED but non-foldable expression: a plain
    # F.lit(0) is constant-folded out of the partitionSpec by Catalyst
    # (measured — the "No Partition Defined for Window" warning still
    # fires), while pmod(hash(token), 1) is always 0 yet survives
    # optimization, keeping the spec non-empty so a real
    # unpartitioned-window-on-big-data bug can't hide behind expected
    # warning noise.
    w = Window.partitionBy(F.pmod(F.hash("token"), F.lit(1))).orderBy(
        F.col("n_occur").desc(), F.col("token").asc())
    return (stats.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= top_k)
            .select("rank", "token", "n_occur", "n_docs"))


def repetition_metrics(docs: DataFrame,
                       packing: str = "base256") -> DataFrame:
    """Per-doc repetition profile (Gopher-rule family):

    * distinct_frac — distinct tokens / n_tok
    * top2_frac     — occurrences of the most frequent bigram / bigram count
    * dup3_frac     — trigram instances whose gram repeats within the
                      doc / trigram count

    Docs too short for a k-gram get 0.0 for that metric. All three
    are single divisions of exact integers (bit-stable cross-engine).
    ``packing`` passes through to ``doc_ngrams`` — "hash" for token
    ids beyond [0, 256) (e.g. ``quality_filter``'s word-hash ids).
    """
    def _gram_counts(k: int) -> DataFrame:
        return (doc_ngrams(docs, k, distinct=False, packing=packing)
                .groupBy("doc_id", "gram").agg(F.count("*").alias("c")))

    bi = (_gram_counts(2).groupBy("doc_id")
          .agg(F.max("c").alias("max2"), F.sum("c").alias("tot2")))
    tri = (_gram_counts(3).groupBy("doc_id")
           .agg(F.sum(F.when(F.col("c") > 1, F.col("c"))
                      .otherwise(F.lit(0))).alias("dup3"),
                F.sum("c").alias("tot3")))

    def _frac(num, den):
        return F.when(F.col(den) > 0,
                      F.col(num).cast("double") / F.col(den).cast("double")
                      ).otherwise(F.lit(0.0))

    return (docs.select("doc_id", "n_tok", "tokens")
            .withColumn(
                "distinct_frac",
                F.when(F.col("n_tok") > 0,
                       F.size(F.array_distinct("tokens")).cast("double") /
                       F.col("n_tok").cast("double")).otherwise(F.lit(0.0)))
            .join(bi, "doc_id", "left").join(tri, "doc_id", "left")
            .select("doc_id", "distinct_frac",
                    _frac("max2", "tot2").alias("top2_frac"),
                    _frac("dup3", "tot3").alias("dup3_frac")))


# ---------------------------------------------------------------------------
# Gopher-rule quality filter (Rae et al. 2021 §A1.1)
# ---------------------------------------------------------------------------

# Default thresholds follow the published Gopher filter table; each is
# overridable per call. Stopword presence uses the textstats English
# marker list (lang-ID shares it), matching the paper's "contains at
# least 2 of a small stop list" rule.
GOPHER_DEFAULTS = {
    "min_words": 50, "max_words": 100_000,
    "min_mean_wlen": 3.0, "max_mean_wlen": 10.0,
    "max_symbol_ratio": 0.1,          # per symbol ('#'; '...'/'…') per word
    "min_stop_hits": 2,               # distinct stopwords present
    "min_distinct_frac": 0.2,         # ~1 - "duplicate tokens" cap
    "max_top2_frac": 0.18,            # most-frequent-bigram share
    "max_dup3_frac": 0.30,            # duplicated-trigram share
}


def quality_filter(docs: DataFrame, text_col: str = "text",
                   **overrides) -> DataFrame:
    """Per-doc Gopher-rule keep/drop verdict: (doc_id, one boolean
    column per rule, keep int). A doc keeps only when EVERY rule
    passes — the standard pre-training curation gate.

    ALL rules — including the repetition caps — are computed from the
    TEXT at word level, per the paper. The repetition metrics run over
    xxhash64(word) ids (``repetition_metrics`` with packing="hash"),
    NOT the canonical mod-256 token ids: capped ids bound distinct
    ids at 256, which would doom every doc past ~1,280 tokens to
    distinct_frac < 0.2 regardless of quality. Words split on
    WHITESPACE RUNS (newlines/tabs delimit; consecutive blanks don't
    fabricate empty words) — deliberately wider than textstats'
    single-space ``words_col`` (which stays put for its gate's DuckDB
    string_split parity). Mean word length averages the words
    themselves (not chars/words, which counts separators); symbol
    ratios are per symbol (hash, ASCII and Unicode ellipsis — each
    compared to the cap separately, as published); stopwords match
    after stripping non-letters, so 'the;' still counts.

    Every signal is a count, an exact integer division, or a
    comparison — pure codegen'd column SQL; the repetition join is the
    one shuffle (co-keyed groupBys on doc_id). Input only needs
    ``doc_id`` and ``text_col``. The lexical flags and the two gram
    views each re-scan the pruned (doc_id, text) columns rather than
    pinning a hashed-token materialization — the same
    recompute-over-pin trade the passage pipeline measured (SCALE.md
    §6f): the derived arrays are ~input-sized, so caching them costs
    more than re-running the cheap split/hash kernel.
    """
    from .textstats import LANG_MARKERS
    r = {**GOPHER_DEFAULTS, **overrides}
    # NULL text counts as empty: without the coalesce every rule built
    # on split()/size() would emit NULL flags (not false), breaking
    # the boolean contract and downstream per-rule drop-rate counts
    text = F.coalesce(F.col(text_col), F.lit(""))
    words = F.filter(F.split(text, r"\s+"), lambda w: F.length(w) > 0)
    n_words = F.size(words)
    sum_wlen = F.aggregate(words, F.lit(0).cast("long"),
                           lambda acc, w: acc + F.length(w))
    mean_wlen = F.when(n_words > 0,
                       sum_wlen.cast("double") / n_words.cast("double")
                       ).otherwise(F.lit(0.0))
    n_hash = F.size(F.split(text, "#", -1)) - 1
    n_ellipsis = (F.size(F.split(text, r"\.\.\.", -1)) - 1
                  + F.size(F.split(text, "…", -1)) - 1)

    def _ratio(n):
        return F.when(n_words > 0,
                      n.cast("double") / n_words.cast("double")
                      ).otherwise(F.lit(0.0))

    stops = list(LANG_MARKERS["en"])
    bare = F.transform(
        words, lambda w: F.regexp_replace(F.lower(w), "[^a-z]", ""))
    stop_hits = F.size(F.array_distinct(
        F.filter(bare, lambda w: w.isin(stops))))

    flags = {
        "ok_len": (n_words >= r["min_words"])
        & (n_words <= r["max_words"]),
        "ok_wlen": (mean_wlen >= r["min_mean_wlen"])
        & (mean_wlen <= r["max_mean_wlen"]),
        "ok_symbols": (_ratio(n_hash) <= r["max_symbol_ratio"])
        & (_ratio(n_ellipsis) <= r["max_symbol_ratio"]),
        "ok_stopwords": stop_hits >= r["min_stop_hits"],
    }
    word_docs = docs.select(
        "doc_id",
        F.transform(words, lambda w: F.xxhash64(w)).alias("tokens")
    ).withColumn("n_tok", F.size("tokens").cast("int"))
    rep = repetition_metrics(word_docs, packing="hash")
    out = (docs.select("doc_id",
                       *[v.alias(k) for k, v in flags.items()])
           .join(rep, "doc_id")
           .withColumn("ok_distinct",
                       F.col("distinct_frac") >= r["min_distinct_frac"])
           .withColumn("ok_top2", F.col("top2_frac") <= r["max_top2_frac"])
           .withColumn("ok_dup3", F.col("dup3_frac") <= r["max_dup3_frac"]))
    rule_cols = ["ok_len", "ok_wlen", "ok_symbols", "ok_stopwords",
                 "ok_distinct", "ok_top2", "ok_dup3"]
    keep = F.lit(True)
    for c in rule_cols:
        keep = keep & F.col(c)
    return out.select("doc_id", *rule_cols,
                      keep.cast("int").alias("keep"))


def budget_mixture_weights(docs: DataFrame, ratios: dict[str, float],
                           budget_tokens: int,
                           by: str = "source") -> dict[str, float]:
    """Token-budget planning for data mixing: turn target mixture
    RATIOS plus a total token budget into the per-source resampling
    multipliers that ``mixture_sample`` consumes.

    One map-side-combined aggregate reads the per-source token supply;
    the multiplier for source s is then
    ``budget * ratio_s / (Σ ratios present) / supply_s`` — >1 means
    the source repeats (epochs), <1 means it subsamples, both of which
    ``mixture_sample`` realizes deterministically (floor copies + the
    1/65536-quantized fractional coin). Sources named in ``ratios``
    but absent from the corpus are ignored (their ratio mass is
    redistributed); the returned multipliers quantize like
    mixture_sample, so realized tokens land within 1/65536 per source
    of the plan plus coin variance.

    Scale: the supply aggregate shuffles |sources| rows; planning is
    driver arithmetic on that tiny table.
    """
    if budget_tokens <= 0:
        raise ValueError("budget_tokens must be positive")
    supply = {r[0]: int(r[1]) for r in
              docs.groupBy(by).agg(F.sum("n_tok")).collect()}
    live = {s: w for s, w in ratios.items()
            if s in supply and w > 0 and supply[s] > 0}
    tot = sum(live.values())
    if tot <= 0:
        raise ValueError(
            f"no ratio mass on sources present in the corpus "
            f"(corpus sources: {sorted(supply)})")
    out = {s: budget_tokens * (w / tot) / supply[s]
           for s, w in live.items()}
    # mixture_sample quantizes fractional multipliers to 1/65536: a
    # planned share below that realizes ZERO rows — fail loudly rather
    # than silently dropping the source from the sample
    dead = sorted(s for s, m in out.items()
                  if m < 1 and int(m * 65536) == 0)
    if dead:
        raise ValueError(
            f"planned multipliers for {dead} fall below "
            f"mixture_sample's 1/65536 resolution and would realize "
            f"zero rows — raise budget_tokens, drop these sources "
            f"from the ratios, or sample them with sample_stratified")
    return out


def ngram_lm_score(docs: DataFrame, ref: DataFrame,
                   alpha: float = 0.1,
                   vocab_size: int = 256,
                   broadcast_threshold: int = 20_000_000) -> DataFrame:
    """CCNet-style n-gram LM quality signal (Wenzek et al. 2020,
    public): score every doc by the mean log-probability of its token
    bigrams under an add-α-smoothed bigram model COUNTED ON ``ref``
    (a trusted reference slice, e.g. a `benchmark_split` of a clean
    source). Low scores flag out-of-domain / junk documents — the
    perplexity filter of the classic curation stack.

    Returns (doc_id, n_bigrams, mean_logp) with mean_logp = 0.0 for
    docs too short for a bigram (n_bigrams = 0) — treat that as
    "unscored", not "perfect": filter or weight by n_bigrams before
    aggregating (the CLI stage weights by it).

        P(t | s) = (c(s,t) + α) / (c(s,·) + α·V)

    Bigrams pack positionally base-``vocab_size`` (gram = s·V + t,
    ctx = gram // V) — exact for token ids in [0, V) for any V whose
    square fits int64 (V up to ~3e9), so real tokenizer vocabs work;
    ids ≥ V would silently collide, same contract as doc_ngrams'
    base-256 path. The contamination gate's oracle replays the V=256
    default in SQL.

    Scale: the model is at most V² rows (the canonical 256-id space
    caps it at 65,536; real vocabs shrink it to observed bigrams) —
    counted with one map-side-combined groupBy over the reference and
    BROADCAST to the corpus side, which then pays one scan + one
    map-side join + one groupBy(doc_id). The unigram normalizer joins
    the same way. Unseen bigrams fall back to the smoothing mass via
    left joins + coalesce, so in the broadcast regime the corpus
    never shuffles on gram keys.

    The V² bound says nothing about the OBSERVED-bigram blowup
    (VERDICT r04 #5): a 100k-token vocab reference slice can carry
    hundreds of millions of distinct bigrams — far past any sane
    broadcast. The model size is therefore PROBED, so CALLING this
    function runs a Spark action: one aggregate over the pinned
    bigram model (paid on the small reference side) counts its rows
    and its distinct contexts. Above ``broadcast_threshold`` rows the
    joins fall back to plain shuffle equi-joins on gram/ctx — the
    corpus side already carries both keys, so the fallback costs one
    hash exchange of keys-only gram rows, not a plan change. The
    default threshold (20M rows ≈ a few hundred MB as a broadcast
    hashmap) stays well under executor-memory pressure at
    1000-executor scale; the unigram table is sized by its distinct
    contexts, which usually keep it broadcastable when the bigram
    table is not.
    """
    if not 0 < alpha:
        raise ValueError("alpha must be positive")
    if vocab_size < 2 or vocab_size * vocab_size >= 2 ** 63:
        raise ValueError(f"vocab_size {vocab_size} out of range "
                         f"[2, ~3e9] for exact base-V bigram packing")
    V = vocab_size

    def _bigrams(d: DataFrame) -> DataFrame:
        expr = (f"transform(sequence(0, n_tok - 2), "
                f"i -> cast(tokens[i] as long) * {V} "
                f"+ cast(tokens[i + 1] as long))")
        return (d.where(F.col("n_tok") >= 2)
                .select("doc_id", F.explode(F.expr(expr)).alias("gram")))

    # ctx via integer division (`div`): a double roundtrip would lose
    # exactness once gram exceeds 2^53 (large-V packings)
    # the model is PINNED (lazy localCheckpoint, materialized by the
    # size probe below): it is consumed up to four times — size
    # probe, the uni_ref derivation, and both join sides — and
    # unlike the exploded passage-window table (SCALE.md §6f) it is
    # model-sized, far below its own build cost, so pinning wins
    bi_ref = (_bigrams(ref)
              .groupBy("gram").agg(F.count("*").alias("c2"))
              .localCheckpoint(eager=False))
    # unigram context counts: the leading token of each bigram
    uni_ref = (bi_ref
               .withColumn("ctx", F.expr(f"gram div {V}"))
               .groupBy("ctx").agg(F.sum("c2").alias("c1")))
    grams = (_bigrams(docs)
             .withColumn("ctx", F.expr(f"gram div {V}")))
    logp = F.log(
        (F.coalesce(F.col("c2"), F.lit(0)).cast("double") + alpha)
        / (F.coalesce(F.col("c1"), F.lit(0)).cast("double")
           + alpha * vocab_size))
    # one probe job sizes both tables: uni_ref has one row per
    # distinct context of the bigram model
    n_bi, n_ctx = bi_ref.select(
        F.count("*"), F.countDistinct(F.expr(f"gram div {V}"))).first()
    bi_side = bi_ref
    uni_side = uni_ref
    if n_bi <= broadcast_threshold:
        bi_side = F.broadcast(bi_ref)
        uni_side = F.broadcast(uni_ref)
    elif n_ctx <= broadcast_threshold:
        uni_side = F.broadcast(uni_ref)
    scored = (grams
              .join(bi_side, "gram", "left")
              .join(uni_side, "ctx", "left")
              .groupBy("doc_id")
              .agg(F.count("*").alias("n_bigrams"),
                   F.avg(logp).alias("mean_logp")))
    return (docs.select("doc_id").join(scored, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
                    F.coalesce("mean_logp", F.lit(0.0)).alias("mean_logp")))
