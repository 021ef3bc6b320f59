"""Character-LM quality scoring: the CCNet/KenLM filter, Spark-native.

CCNet (Wenzek et al. 2020) buckets corpus docs by the perplexity of a
KenLM n-gram model trained on clean reference text; low-probability docs
are gibberish/boilerplate candidates. No KenLM here — the same shape is a
pure DataFrame computation with a CHARACTER bigram model, which keeps the
whole pipeline deterministic, JVM-side, and SQL-oracle-able:

- :func:`train_char_lm`: bigram + unigram character counts over a
  reference corpus — two map-side-combinable aggregations; the model is a
  skinny table (|charset|^2 rows max), broadcastable anywhere.
- :func:`lm_score`: mean log P(c_i | c_{i-1}) per doc under add-k
  smoothing — explode docs into character bigrams (skinny (doc, bigram)
  rows; the text itself never shuffles), broadcast-join the model, one
  aggregation back. Unseen bigrams/contexts fall back to the smoothed
  floor, so scores are defined for any input.

- :func:`train_word_lm`: the CCNet-fidelity WORD-level sibling — capped
  top-V vocabulary (TakeOrdered, no global sort), same model schema, so
  :func:`lm_score` consumes either via ``unit='char'|'word'``.
- :func:`train_word_backoff_lm` / :func:`lm_score_backoff`: word
  TRIGRAM stupid backoff (Brants et al. 2007) — relative frequencies at
  orders 1-3, vocab-capped at every order, engine-exact integer
  micro-nat aggregation at scoring time.

Not in the reference (its quality filtering is CDX-rule-level) — a
training-data-pipeline extension like operators/quality.py, which covers
the complementary shape-based (Gopher) rules.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ia_hadoop_tools_spark.operators.bpe import WORD_SPLIT

DEFAULT_SMOOTH_K = 0.1


def _char_bigrams(df: DataFrame, keep_cols: list, text_col: str) -> DataFrame:
    """(keep_cols..., ctx, nxt) character-bigram rows — the ONE tokenizer
    shared by training and scoring, so the two can never drift apart.

    CODEGEN enumerator (the langid ``_char_ngram_rows`` idiom, round-11
    optimization): the char array is built ONCE per doc (``split`` is
    codepoint-aware, matching ``substring``'s codepoint granularity), two
    shifted ``slice`` views zip into per-position (ctx, nxt) structs, and
    Generate emits the struct as an attribute — whole-stage codegen end to
    end.  The previous ``transform(sequence(...), i -> struct(substring(t,
    i, 1), substring(t, i+1, 1)))`` form ran the per-element lambda on
    Catalyst's INTERPRETED HigherOrderFunction path with an O(i) codepoint
    seek per ``substring`` (quadratic per doc).  Gram rows are identical (multiset
    and values) — the slices of ``split(t, '')`` enumerate exactly the
    per-position 1-char substrings."""
    t = F.lower(F.col(text_col))
    chars = F.split(t, "")
    num = F.length(t) - 1
    zipped = F.arrays_zip(
        F.slice(chars, 1, num).alias("ctx"),
        F.slice(chars, 2, num).alias("nxt"),
    )
    return (
        df.filter(F.length(t) >= 2)
        .select(*keep_cols, F.explode(zipped).alias("__s"))
        .select(*keep_cols, "__s.ctx", "__s.nxt")
    )


def _word_bigrams(df: DataFrame, keep_cols: list, text_col: str) -> DataFrame:
    r"""(keep_cols..., ctx, nxt) WORD-bigram rows — lowercased tokens on
    the portable whitespace class (bpe.WORD_SPLIT rationale: \s differs
    across regex engines), empties removed, consecutive pairs via the
    zip-of-two-slices idiom (importance.word_bigrams: element_at is O(n)
    per access, so transform+element_at would be O(n^2) per doc)."""
    raw = F.split(F.lower(F.col(text_col)), WORD_SPLIT)
    w = F.filter(raw, lambda t: t != "")
    m = F.greatest(F.size(w) - 1, F.lit(0))
    pairs = F.zip_with(
        F.slice(w, 1, m),
        F.slice(w, 2, m),
        lambda a, b: F.struct(a.alias("ctx"), b.alias("nxt")),
    )
    return df.select(*keep_cols, F.explode(pairs).alias("__s")).select(
        *keep_cols, "__s.ctx", "__s.nxt"
    )


def _gram_rows(
    df: DataFrame, keep_cols: list, text_col: str, unit: str
) -> DataFrame:
    if unit == "char":
        return _char_bigrams(df, keep_cols, text_col)
    if unit == "word":
        return _word_bigrams(df, keep_cols, text_col)
    raise ValueError(f"unit must be 'char' or 'word', got {unit!r}")


def train_char_lm(
    reference: DataFrame,
    text_col: str = "text",
    smooth_k: float = DEFAULT_SMOOTH_K,
) -> DataFrame:
    """Bigram character model: (``ctx``, ``nxt``, ``logp``).

    ``logp`` = ln((count(ctx,nxt) + k) / (count(ctx) + k * V)) with V =
    distinct characters in the reference — add-k smoothing, so every seen
    context assigns mass to unseen continuations. The table also carries
    each context's smoothed FLOOR (``logp_unseen``) on every row;
    :func:`lm_score` reads context floors from a distinct projection.

    LAZY: constructing the model launches no Spark job — V rides along as
    a 1-row broadcast aggregate folded into the plan. An empty reference
    yields an empty model, which :func:`lm_score` rejects (an empty model
    would score every doc 0.0, the best possible score).
    """
    # no ensure_min_partitions spread: the gram enumerators are codegen,
    # and re-shuffling every text row measured slower on every lm row
    # (sf0.1 A/B: lm_score x0.61, lm_buckets x0.55, lm_word_score x0.88)
    t = F.lower(F.col(text_col))
    # split('', '(?!$)') returns [''] — filter it so an empty doc in the
    # reference cannot inflate V by a phantom character (the SQL oracle
    # enumerates per-position chars, where empty docs contribute none)
    chars = reference.select(
        F.explode(F.split(t, "(?!$)")).alias("__c")
    ).filter(F.col("__c") != "")
    vdf = chars.agg(F.count_distinct("__c").alias("__v"))
    bigrams = _char_bigrams(reference, [], text_col)
    # ROUND-11 OPTIMIZATION (guide §2.4 — remove a full corpus pass): the
    # context total is the row sum of the pair counts (count(ctx) =
    # Σ_nxt count(ctx, nxt), both exact LONGs), so it is computed with a
    # window over the charset²-bounded pair table instead of a SECOND
    # corpus-sized bigram aggregation (the two aggregations shared no
    # exchange, so the gram enumerator ran twice per model build).
    pair_counts = bigrams.groupBy("ctx", "nxt").agg(
        F.count("*").alias("__pn")
    )
    from pyspark.sql import Window

    with_ctx = pair_counts.withColumn(
        "__cn", F.sum("__pn").over(Window.partitionBy("ctx"))
    )
    return (
        with_ctx
        .crossJoin(F.broadcast(vdf))
        .select(
            "ctx",
            "nxt",
            F.round(
                F.log(
                    (F.col("__pn") + F.lit(smooth_k))
                    / (F.col("__cn") + F.lit(smooth_k) * F.col("__v"))
                ),
                6,
            ).alias("logp"),
            F.round(
                F.log(
                    F.lit(smooth_k)
                    / (F.col("__cn") + F.lit(smooth_k) * F.col("__v"))
                ),
                6,
            ).alias("logp_unseen"),
            F.round(F.log(F.lit(1.0) / F.col("__v")), 6).alias(
                "logp_nocontext"
            ),
        )
    )


def _top_vocab(
    reference: DataFrame, text_col: str, vocab_size: int
) -> DataFrame:
    """(__w, __wc): the top-``vocab_size`` tokens by count, ties broken
    token-asc (deterministic).  ``orderBy().limit()`` plans as
    TakeOrderedAndProject — bounded memory, no global sort over the
    unbounded distinct-token tail.  The ONE vocabulary-cap definition
    both word trainers share."""
    if vocab_size < 1:
        raise ValueError(f"vocab_size must be >= 1, got {vocab_size}")
    raw = F.split(F.lower(F.col(text_col)), WORD_SPLIT)
    tokens = reference.select(
        F.explode(F.filter(raw, lambda t: t != "")).alias("__w")
    )
    return (
        tokens.groupBy("__w")
        .agg(F.count("*").alias("__wc"))
        .orderBy(F.col("__wc").desc(), F.col("__w").asc())
        .limit(vocab_size)
    )


def train_word_lm(
    reference: DataFrame,
    text_col: str = "text",
    vocab_size: int = 50_000,
    smooth_k: float = DEFAULT_SMOOTH_K,
) -> DataFrame:
    """WORD-bigram model with a capped vocabulary — the CCNet-fidelity
    upgrade over :func:`train_char_lm` (Wenzek et al. 2020 filter on
    word-level n-gram perplexity, not character statistics).  Same model
    schema (``ctx``, ``nxt``, ``logp``, ``logp_unseen``,
    ``logp_nocontext``), so :func:`lm_score` consumes either model —
    pass ``unit='word'`` to match.

    Vocabulary cap is the 100 TB contract: the reference corpus's
    distinct-token table is unbounded (typo/URL tail), so the model
    keeps the top ``vocab_size`` tokens by count (ties: token asc —
    deterministic) via ``orderBy().limit()``, which Spark plans as
    TakeOrderedAndProject — bounded memory, NO global sort.  Bigrams
    with an out-of-vocab side are dropped from BOTH pair and context
    counts (the model is the LM of the reference restricted to its core
    vocabulary); V in the add-k smoothing is the retained vocab size.
    At scoring time an out-of-vocab context falls through to the
    ``logp_nocontext`` floor ln(1/V) — the conservative "unknown word =
    less reference-like" behavior a quality filter wants, with zero
    score-side vocab mapping (no <unk> rewrite pass over the corpus).

    LAZY like the char trainer: constructing the model launches no job;
    the vocab limit and V ride inside the plan as broadcast aggregates.
    """
    # no ensure_min_partitions spread: measured slower (see train_char_lm)
    bigrams = _word_bigrams(reference, [], text_col)
    vocab = _top_vocab(reference, text_col, vocab_size).select("__w")
    vdf = vocab.agg(F.count("*").alias("__v"))
    kept = bigrams.join(
        F.broadcast(vocab.withColumnRenamed("__w", "ctx")), "ctx"
    ).join(F.broadcast(vocab.withColumnRenamed("__w", "nxt")), "nxt")
    # in-vocab ctx total = Σ_nxt pair count (train_char_lm's round-11
    # one-pass rule): a window over the vocab²-bounded pair table replaces
    # the second corpus-sized gram aggregation
    pair_counts = kept.groupBy("ctx", "nxt").agg(F.count("*").alias("__pn"))
    from pyspark.sql import Window

    with_ctx = pair_counts.withColumn(
        "__cn", F.sum("__pn").over(Window.partitionBy("ctx"))
    )
    return (
        with_ctx
        .crossJoin(F.broadcast(vdf))
        .select(
            "ctx",
            "nxt",
            F.round(
                F.log(
                    (F.col("__pn") + F.lit(smooth_k))
                    / (F.col("__cn") + F.lit(smooth_k) * F.col("__v"))
                ),
                6,
            ).alias("logp"),
            F.round(
                F.log(
                    F.lit(smooth_k)
                    / (F.col("__cn") + F.lit(smooth_k) * F.col("__v"))
                ),
                6,
            ).alias("logp_unseen"),
            F.round(F.log(F.lit(1.0) / F.col("__v")), 6).alias(
                "logp_nocontext"
            ),
        )
    )


DEFAULT_BACKOFF_ALPHA = 0.4


def _word_trigrams(df: DataFrame, keep_cols: list, text_col: str) -> DataFrame:
    """(keep_cols..., w1, w2, w3) word-trigram rows (zip of three slices)."""
    raw = F.split(F.lower(F.col(text_col)), WORD_SPLIT)
    w = F.filter(raw, lambda t: t != "")
    m = F.greatest(F.size(w) - 2, F.lit(0))
    trips = F.zip_with(
        F.slice(w, 1, m),
        F.zip_with(
            F.slice(w, 2, m),
            F.slice(w, 3, m),
            lambda b, c: F.struct(b.alias("w2"), c.alias("w3")),
        ),
        lambda a, bc: F.struct(
            a.alias("w1"), bc["w2"].alias("w2"), bc["w3"].alias("w3")
        ),
    )
    return df.select(*keep_cols, F.explode(trips).alias("__t")).select(
        *keep_cols, "__t.w1", "__t.w2", "__t.w3"
    )


def train_word_backoff_lm(
    reference: DataFrame,
    text_col: str = "text",
    vocab_size: int = 50_000,
) -> DataFrame:
    """Word TRIGRAM model with stupid backoff (Brants et al. 2007,
    "Large Language Models in Machine Translation" §4): relative
    frequencies at each order, no normalization across backoff paths —
    the scheme built FOR corpus-scale n-gram scoring, where Kneser-Ney's
    cross-order bookkeeping is the thing you drop.

    Returns one tall model table (``order`` 1|2|3, ``ctx``, ``nxt``,
    ``logs``): order-3 rows have ctx = "w1 w2", order-2 ctx = "w1",
    order-1 ctx = "" with logs = ln(count / total).  All counts are
    restricted to the top-``vocab_size`` tokens (the same TakeOrdered
    cap as :func:`train_word_lm` — n-grams touching an out-of-vocab
    token are dropped), so every order's table is reference- and
    vocab-bounded, broadcastable at scoring time.

    The model is pure relative frequencies — the backoff penalty
    ``alpha`` is a SCORING-time parameter (:func:`lm_score_backoff`),
    not baked into the table, so one trained model serves any alpha.
    LAZY: no job at construction (vocab limit + total ride the plan).
    """
    # no ensure_min_partitions spread: measured slower (see train_char_lm)
    vocab = _top_vocab(reference, text_col, vocab_size)
    v = F.broadcast(vocab.select("__w"))
    # vocab already carries each kept token's corpus count — re-exploding
    # the reference to recount them would add a duplicate corpus-wide
    # aggregation per materialization of this (lazy) model
    uni = vocab.select("__w", F.col("__wc").alias("__c"))
    total = uni.agg(F.sum("__c").alias("__tot"))
    bi = (
        _word_bigrams(reference, [], text_col)
        .join(v.withColumnRenamed("__w", "ctx"), "ctx")
        .join(v.withColumnRenamed("__w", "nxt"), "nxt")
        .groupBy("ctx", "nxt")
        .agg(F.count("*").alias("__c"))
    )
    tri = (
        _word_trigrams(reference, [], text_col)
        .join(v.withColumnRenamed("__w", "w1"), "w1")
        .join(v.withColumnRenamed("__w", "w2"), "w2")
        .join(v.withColumnRenamed("__w", "w3"), "w3")
        .groupBy("w1", "w2", "w3")
        .agg(F.count("*").alias("__c"))
    )
    log6 = lambda num, den: F.round(F.log(num / den), 6)  # noqa: E731
    m1 = uni.crossJoin(F.broadcast(total)).select(
        F.lit(1).alias("order"),
        F.lit("").alias("ctx"),
        F.col("__w").alias("nxt"),
        log6(F.col("__c"), F.col("__tot")).alias("logs"),
    )
    bi_ctx = uni.select(
        F.col("__w").alias("ctx"), F.col("__c").alias("__ctxc")
    )
    m2 = bi.join(bi_ctx, "ctx").select(
        F.lit(2).alias("order"),
        "ctx",
        "nxt",
        log6(F.col("__c"), F.col("__ctxc")).alias("logs"),
    )
    tri_ctx = bi.select(
        F.col("ctx").alias("w1"),
        F.col("nxt").alias("w2"),
        F.col("__c").alias("__ctxc"),
    )
    m3 = tri.join(tri_ctx, ["w1", "w2"]).select(
        F.lit(3).alias("order"),
        F.concat_ws(" ", "w1", "w2").alias("ctx"),
        F.col("w3").alias("nxt"),
        log6(F.col("__c"), F.col("__ctxc")).alias("logs"),
    )
    return m1.unionByName(m2).unionByName(m3)


def lm_score_backoff(
    docs: DataFrame,
    model: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = DEFAULT_BACKOFF_ALPHA,
) -> DataFrame:
    """(id_col, lm_score, n_trigrams): mean stupid-backoff log-score of
    each doc's word trigrams under a :func:`train_word_backoff_lm`
    model.  Per trigram (w1 w2 w3):

        S = rel-freq(w3 | w1 w2)            if the trigram was seen
          | alpha   * rel-freq(w3 | w2)     elif the (w2, w3) bigram was
          | alpha^2 * rel-freq(w3)          elif w3 is in-vocab
          | alpha^2 * 1/V_total             (fully unseen floor)

    Docs with fewer than 3 tokens score null with ``n_trigrams`` 0.

    Plan: skinny (id, w1, w2, w3) rows; THREE broadcast left joins (the
    model is vocab-bounded at every order); one aggregation back.  The
    doc text never shuffles.

    Persist contract (same as :func:`lm_score`): the model plan is
    consumed multiple times (unigram probe + three order slices), so an
    unpersisted model is persisted internally with NO release handle —
    loop callers passing fresh (plan-distinct) model frames would
    accumulate cache entries; persist the model ONCE yourself in loops
    (CacheManager dedups identical plans, so repeated calls on the SAME
    frame don't stack).
    """
    import math

    if not (0.0 < alpha <= 1.0):
        # alpha > 1 would turn the backoff penalty into a BONUS per
        # level (all-unseen docs outranking trigram hits, silently
        # inverting the filter); <= 0 is a domain error in ln
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    if not model.is_cached:
        model = model.persist()
    parts = {
        o: model.filter(F.col("order") == o).select("ctx", "nxt", "logs")
        for o in (1, 2, 3)
    }
    probe = parts[1].agg(F.count("*").alias("__v")).first()
    if not probe or not probe["__v"]:
        raise ValueError("lm_score_backoff: model has no unigram rows")
    floor = round(math.log(1.0 / probe["__v"]), 6)
    la, la2 = round(math.log(alpha), 6), round(2 * math.log(alpha), 6)
    grams = _word_trigrams(docs, [F.col(id_col)], text_col)
    j3 = parts[3].select(
        F.col("ctx").alias("__c3"), F.col("nxt").alias("__n3"),
        F.col("logs").alias("__s3"),
    )
    j2 = parts[2].select(
        F.col("ctx").alias("__c2"), F.col("nxt").alias("__n2"),
        F.col("logs").alias("__s2"),
    )
    j1 = parts[1].select(
        F.col("nxt").alias("__n1"), F.col("logs").alias("__s1")
    )
    scored = (
        grams.join(
            F.broadcast(j3),
            (F.concat_ws(" ", "w1", "w2") == F.col("__c3"))
            & (F.col("w3") == F.col("__n3")),
            "left",
        )
        .join(
            F.broadcast(j2),
            (F.col("w2") == F.col("__c2")) & (F.col("w3") == F.col("__n2")),
            "left",
        )
        .join(F.broadcast(j1), F.col("w3") == F.col("__n1"), "left")
        .select(
            id_col,
            # integer MICRO-NATS per trigram: every path value is a sum
            # of 6-dp constants, so *1e6 is within 1 ULP of an integer —
            # rounding is tie-free and engine-exact, the integer SUM is
            # associative (unlike float avg, whose last-ULP accumulation
            # order broke cross-engine parity), and the final mean is
            # one fixed-order division of exact operands
            F.round(
                F.coalesce(
                    F.col("__s3"),
                    F.col("__s2") + F.lit(la),
                    F.col("__s1") + F.lit(la2),
                    F.lit(floor + la2),
                )
                * F.lit(1e6),
                0,
            )
            .cast("long")
            .alias("__micro"),
        )
        .groupBy(id_col)
        .agg(
            F.sum("__micro").alias("__sm"),
            F.count("*").alias("n_trigrams"),
        )
        .select(
            id_col,
            (
                F.col("__sm").cast("double")
                / F.col("n_trigrams")
                / F.lit(1e6)
            ).alias("lm_score"),
            "n_trigrams",
        )
    )
    return (
        docs.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            "lm_score",
            F.coalesce("n_trigrams", F.lit(0)).alias("n_trigrams"),
        )
    )


def lm_buckets(
    scored: DataFrame,
    calibration=None,
    n_buckets: int = 3,
    score_col: str = "lm_score",
    id_col: str = "doc_id",
    labels: tuple[str, ...] | None = None,
) -> DataFrame:
    """CCNet's operational step (Wenzek et al. 2020 §4.4): bucket a
    SCORED corpus into head/middle/tail (keep / flag / drop) by LM
    score quantile.  Works over ANY scorer's output — char
    (:func:`lm_score` with a :func:`train_char_lm` model), word
    (``unit='word'`` with :func:`train_word_lm`), or trigram backoff
    (:func:`lm_score_backoff`) — which is the word-level perplexity cut
    users actually ship; the scorer choice stays orthogonal to the
    bucketing.

    ``calibration`` is an optional boolean Column selecting the bounded
    calibration slice the quantile cutoffs derive from (CCNet derives
    cutoffs once from a calibration sample, NOT by globally ranking the
    corpus — a corpus-wide ntile would funnel every (doc, score) pair
    through one window task).  Default None calibrates on all non-null
    scores: fine for bounded frames, NOT the 100 TB path — at scale pass
    a fixed-size predicate (e.g. ``F.col('doc_id') < 200``).

    Returns ``scored`` plus ``bucket``: cutoff k = the minimum score of
    ntile k over the calibration slice (ordered score desc, id asc —
    deterministic ties), bucket = first label whose cutoff the score
    meets.  Null scores get a null bucket (kept; caller decides, the
    split_corpus NULL convention).  The cutoff row broadcasts; the
    corpus side is a pure comparison, embarrassingly parallel.
    """
    if labels is None:
        labels = (
            ("head", "middle", "tail")
            if n_buckets == 3
            else tuple(f"b{i}" for i in range(1, n_buckets + 1))
        )
    if len(labels) != n_buckets:
        raise ValueError(
            f"labels must have n_buckets={n_buckets} entries, got {labels}"
        )
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    from ia_hadoop_tools_spark.operators.sampling import (
        _check_output_columns,
    )

    _check_output_columns(
        scored,
        ["bucket"] + [f"__t{k}" for k in range(1, n_buckets)],
        "lm_buckets",
    )
    from pyspark.sql import Window

    cal = scored.filter(F.col(score_col).isNotNull())
    if calibration is not None:
        cal = cal.filter(calibration)
    w = Window.orderBy(F.col(score_col).desc(), F.col(id_col).asc())
    ranked = cal.withColumn("__b", F.ntile(n_buckets).over(w))
    th = ranked.groupBy().agg(
        *[
            F.min(
                F.when(F.col("__b") == k, F.col(score_col))
            ).alias(f"__t{k}")
            for k in range(1, n_buckets)
        ]
    )
    bucket = F.lit(labels[-1])
    for k in range(n_buckets - 1, 0, -1):
        bucket = F.when(
            F.col(score_col) >= F.col(f"__t{k}"), labels[k - 1]
        ).otherwise(bucket)
    # a calibration slice with fewer rows than buckets yields null
    # cutoffs; the CASE would then silently bucket EVERY doc into the
    # last label (and a CCNet filter would drop the whole corpus) —
    # fail the job loudly instead, at zero extra jobs (raise_error
    # evaluates inside the same action)
    bucket = F.when(
        F.col(f"__t{n_buckets - 1}").isNull(),
        F.raise_error(
            F.lit(
                "lm_buckets: calibration slice has fewer rows than "
                f"n_buckets={n_buckets} (cutoffs undefined) — widen the "
                "calibration predicate"
            )
        ).cast("string"),
    ).otherwise(bucket)
    bucket = F.when(F.col(score_col).isNotNull(), bucket)
    return (
        scored.crossJoin(F.broadcast(th))
        .withColumn("bucket", bucket)
        .drop(*[f"__t{k}" for k in range(1, n_buckets)])
    )


def lm_score(
    docs: DataFrame,
    model: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    unit: str = "char",
) -> DataFrame:
    """(id_col, lm_score, n_bigrams): mean ln-prob of the doc's bigrams
    under ``model`` (higher = more reference-like).  ``unit`` selects
    the gram tokenizer — ``'char'`` for :func:`train_char_lm` models,
    ``'word'`` for :func:`train_word_lm` — and must match the unit the
    model was trained with (the model schema is unit-agnostic, so this
    is the caller's contract).  Docs with fewer than 2 grams score null
    with ``n_bigrams`` 0.

    Plan: skinny (id, ctx, nxt) rows -> broadcast left join of the model
    pairs -> per-context floor for seen-context/unseen-pair -> global
    1/V floor for unseen contexts -> one aggregation. The doc text never
    shuffles; both joins broadcast (the model is charset- resp.
    vocab-cap-bounded).
    """
    # the model plan is consumed three times below (pairs join, floors
    # projection, nocontext probe); since train_char_lm went lazy its
    # vocabulary aggregate re-runs on EVERY consumption — persist so the
    # charset-bounded table materializes once. Skip if the caller already
    # persisted (loops should persist the model once themselves — the
    # internal persist has no release handle since the returned lazy
    # frame computes through it; CacheManager dedups identical plans, so
    # repeated calls on the SAME model frame don't stack entries).
    if not model.is_cached:
        model = model.persist()
    grams = _gram_rows(docs, [F.col(id_col)], text_col, unit)
    floors = model.select("ctx", "logp_unseen").distinct()
    nocontext = model.select("logp_nocontext").first()
    if nocontext is None:
        # an empty model would coalesce every bigram to log-prob 0.0 — the
        # BEST score — silently passing gibberish through a quality filter
        raise ValueError("lm_score: model is empty (no bigram rows)")
    nc = nocontext["logp_nocontext"]
    scored = (
        grams.join(F.broadcast(model.select("ctx", "nxt", "logp")),
                   ["ctx", "nxt"], "left")
        .join(F.broadcast(floors), "ctx", "left")
        .select(
            id_col,
            # integer MICRO-NATS per bigram (the lm_score_backoff rule):
            # every path value is a 6-dp model constant, so *1e6 is
            # within 1 ULP of an integer — the rounding is tie-free, the
            # LONG sum is associative, and the mean is one fixed-order
            # division of exact operands.  The previous float avg
            # drifted a ULP at the 6-dp rounding boundary cross-engine
            # (first surfaced at sf0.1: ~60 of 5000 docs), the same
            # failure the backoff scorer closed structurally in round 7.
            F.round(
                F.coalesce(
                    "logp", "logp_unseen", F.lit(nc).cast("double")
                )
                * F.lit(1e6),
                0,
            )
            .cast("long")
            .alias("__micro"),
        )
        .groupBy(id_col)
        .agg(
            F.round(
                F.sum("__micro").cast("double") / F.count("*") / F.lit(1e6),
                6,
            ).alias("lm_score"),
            F.count("*").alias("n_bigrams"),
        )
    )
    return (
        docs.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            "lm_score",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
        )
    )
