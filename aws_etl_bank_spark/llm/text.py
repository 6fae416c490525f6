"""Text-analysis operators over a documents table — language-ID, quality
scoring, token counting, fingerprinting.  All pure Catalyst expressions
(split / regexp / array functions); no Python in the data path.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from aws_etl_bank_spark.session import local_frame

#: Tiny per-language stopword profiles for the n-gram/stopword heuristic.
#: Deliberately small and hard-coded: language ID at scale is a
#: broadcast-joined profile table; these profiles match the testdata's
#: five languages.
STOPWORD_PROFILES = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une", "est", "pour"],
    "es": ["el", "la", "de", "y", "los", "las", "un", "una", "es", "para"],
    "de": ["der", "die", "das", "und", "von", "den", "ein", "eine", "ist", "für"],
    "zh": ["的", "是", "了", "在", "和", "有", "我", "不", "这", "人"],
}

_WORDS = lambda c: F.split(F.lower(c), r"\s+")  # noqa: E731


def _barrier(df: DataFrame, expr: Column, alias: str,
             widen: bool = True) -> DataFrame:
    """Append ``expr`` evaluated ONCE per row.  A plain ``withColumn``
    alias is not enough: CollapseProject + ColumnPruning inline the alias
    into every reference site — including inside higher-order-function
    lambdas, where codegen subexpression elimination cannot reach — so an
    expensive expression (regex split, argmax-over-structs) re-runs per
    reference or per array element.  ``explode(array(expr))`` is a
    one-row-per-row Generate whose output attribute the optimizer cannot
    inline: a deliberate, cheap materialization barrier (same pattern as
    ``dedup._shingle_frame``; ``array(x)`` is never empty, so no rows are
    dropped).

    ``widen=True`` (first barrier in an operator) also spreads an
    under-split scan across cores — a compact documents file is 1 scan
    task, serializing everything above it; dead branch at scale.  Pass
    ``widen=False`` for a second barrier over an already-widened frame
    to avoid re-shuffling."""
    if widen:
        from aws_etl_bank_spark.functions.scale import widen_if_underscanned

        df = widen_if_underscanned(df)
    return df.select("*", F.explode(F.array(expr)).alias(alias))


def token_count(text: Column) -> Column:
    """Whitespace token count (bigint)."""
    return F.size(_WORDS(text)).cast("long")


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-ish token estimate: split on word boundaries/punctuation runs
    (a regex proxy for subword segmentation) plus a 4-chars-per-token
    length floor — the standard fast estimator."""
    pieces = F.size(F.split(text, r"[\s\p{Punct}]+")).cast("long")
    by_len = F.ceil(F.length(text) / 4).cast("long")
    return F.greatest(pieces, by_len)


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document stats: chars, tokens, avg word length, punctuation
    ratio, stopword ratio (English profile), uppercase ratio."""
    t = F.col(text_col)
    cols = df.columns
    base = _barrier(df, _WORDS(t), "__words")  # split evaluated once/row
    words = F.col("__words")
    en = F.array(*[F.lit(w) for w in STOPWORD_PROFILES["en"]])
    return base.select(
        *cols,
        F.length(t).cast("long").alias("n_chars_computed"),
        F.size(words).cast("long").alias("n_tokens"),
        F.round(F.length(t) / F.size(words), 4).alias("avg_token_len"),
        F.round(
            (F.length(t) - F.length(F.regexp_replace(t, r"[\p{Punct}]", ""))) / F.length(t), 4
        ).alias("punct_ratio"),
        F.round(
            F.size(F.filter(words, lambda w: F.array_contains(en, w))) / F.size(words), 4
        ).alias("stopword_ratio"),
        F.round(
            (F.length(t) - F.length(F.regexp_replace(t, r"[A-Z]", ""))) / F.length(t), 4
        ).alias("upper_ratio"),
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality in [0,1]: rewards mid-length documents and normal
    stopword density, penalizes punctuation soup.  The formula is simple
    arithmetic so the DuckDB oracle can reproduce it exactly."""
    stats = text_stats(df, text_col)
    length_score = F.least(F.col("n_tokens") / 100.0, F.lit(1.0))
    stop_score = F.least(F.col("stopword_ratio") * 5.0, F.lit(1.0))
    punct_penalty = F.greatest(F.lit(0.0), F.lit(1.0) - F.col("punct_ratio") * 5.0)
    # The weighted sum of 2/4-decimal inputs terminates at exactly 5
    # decimals, so round-half at the 4th digit is a systematic tie; the
    # 1e-9 nudge makes Spark and any SQL oracle round the same way.
    return stats.withColumn(
        "quality",
        F.round(
            (length_score * 0.5 + stop_score * 0.3) * punct_penalty
            + F.lit(0.2) * punct_penalty + F.lit(1e-9),
            4,
        ),
    )


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-profile language ID: score = |words ∩ profile| / |words|
    per language, predict the argmax (ties → lexicographically last code,
    via struct ordering).  Pure array expressions — the profile set is a
    literal (broadcast-equivalent)."""
    cols = df.columns
    base = _barrier(df, _WORDS(F.col(text_col)), "__words")  # one split/row
    words = F.col("__words")
    scored = []
    for lang, profile in sorted(STOPWORD_PROFILES.items()):
        arr = F.array(*[F.lit(w) for w in profile])
        score = F.size(F.filter(words, lambda w: F.array_contains(arr, w))) / F.size(words)
        scored.append(F.struct(F.round(score, 6).alias("score"), F.lit(lang).alias("lang")))
    # second barrier: `best` is referenced twice below; without it the
    # whole 5-language filter/argmax stack would be inlined (and run) once
    # per reference.
    best_df = _barrier(base, F.array_max(F.array(*scored)), "__best", widen=False)
    best = F.col("__best")
    return best_df.select(
        *cols,
        best["lang"].alias("predicted_lang"),
        F.round(best["score"], 4).alias("lang_score"),
    )


def fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                ngram: int = 5) -> DataFrame:
    """Document fingerprints: a whole-text hash over normalized content
    plus a winnowing-style min-hash over character n-grams (rolling-window
    proxy, computed with sequence/transform — no UDF)."""
    norm = F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")
    # Barrier: without it the normalization regex would be inlined INSIDE
    # the transform lambda and re-run per n-gram — O(len^2) regex work.
    base = _barrier(df, norm, "__norm")
    gram_hashes = F.expr(
        f"transform(sequence(1, greatest(length(__norm) - {ngram} + 1, 1)), "
        f"i -> xxhash64(substring(__norm, i, {ngram})))"
    )
    return base.select(
        F.col(id_col),
        F.xxhash64(F.col("__norm")).alias("content_hash"),
        F.array_min(gram_hashes).alias("min_gram_hash"),
    )


def chunk_documents(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                    chunk_words: int = 64, overlap_words: int = 8) -> DataFrame:
    """Split each document into word-bounded chunks of ``chunk_words``
    tokens with ``overlap_words`` carried between consecutive chunks —
    the sequence-packing precursor of a training pipeline.

    Output: (id, chunk_index, chunk_text, chunk_tokens).  Pure
    sequence/transform expressions: the word split happens once per row
    (Generate barrier), chunks are slices of the word array, and the
    explode distributes chunks across tasks — no UDF, no driver loop, so
    a 100 TB corpus chunks in one map-side pass.  NULL text yields zero
    chunks (with legacy sizeOfNull=-1 an unguarded size() would
    otherwise fabricate a chunk with chunk_tokens=-1)."""
    if overlap_words >= chunk_words:
        raise ValueError("overlap_words must be < chunk_words")
    step = chunk_words - overlap_words
    base = _barrier(df, _WORDS(F.col(text_col)), "__words")
    n = F.size(F.col("__words"))
    # chunk start offsets: 1, 1+step, 1+2*step, ... while start <= n
    starts = F.sequence(F.lit(1), F.greatest(n - F.lit(overlap_words), F.lit(1)), F.lit(step))
    chunks = F.when(F.col("__words").isNull(), F.array()).otherwise(
        F.transform(
            starts,
            lambda s: F.struct(
                F.array_join(F.slice(F.col("__words"), s, chunk_words), " ").alias("chunk_text"),
                F.least(n - s + 1, F.lit(chunk_words)).cast("long").alias("chunk_tokens"),
            ),
        )
    )
    exploded = base.select(
        F.col(id_col), F.posexplode(chunks).alias("chunk_index", "c")
    )
    return exploded.select(
        F.col(id_col),
        F.col("chunk_index").cast("long").alias("chunk_index"),
        F.col("c.chunk_text").alias("chunk_text"),
        F.col("c.chunk_tokens").alias("chunk_tokens"),
    )


#: PII patterns — the RE2 ∩ Java-regex common subset (no lookaround), so
#: the exact same pattern strings run under Spark (Java) and any RE2-based
#: oracle (DuckDB).  Scrub order matters: emails first (their dotted
#: domains would otherwise be chewed by the IP pattern), then IPs, then
#: phones (dotted-quad IPs and dotted phones are disjoint — a quad is at
#: most 3 digits, a phone's last group is exactly 4).
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ip": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\b\d{3}[-.]\d{3}[-.]\d{4}\b",
}


def pii_scrub(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact emails / IPv4s / phone numbers, the minimum-viable PII pass
    of a training-data pipeline.  Adds ``text_scrubbed`` plus per-category
    match counts (``n_emails``, ``n_ips``, ``n_phones``), all counted on
    the ORIGINAL text so the counts are independent of scrub order.

    Pure ``regexp_replace``/``regexp_count`` — map-only, whole-stage
    codegen, no shuffle: at 100 TB this is a scan-speed pass.  Real
    deployments swap in their own pattern table; the operator shape
    (ordered replace chain + pre-replace counts) is the deliverable."""
    t = F.col(text_col)
    scrubbed = t
    for cat, token in (("email", "<EMAIL>"), ("ip", "<IP>"), ("phone", "<PHONE>")):
        scrubbed = F.regexp_replace(scrubbed, PII_PATTERNS[cat], token)
    return df.select(
        "*",
        scrubbed.alias("text_scrubbed"),
        F.regexp_count(t, F.lit(PII_PATTERNS["email"])).cast("long").alias("n_emails"),
        F.regexp_count(t, F.lit(PII_PATTERNS["ip"])).cast("long").alias("n_ips"),
        F.regexp_count(t, F.lit(PII_PATTERNS["phone"])).cast("long").alias("n_phones"),
    )


def repetition_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition quality signals: ``n_lines``,
    ``dup_line_frac`` (fraction of lines that are repeats of an earlier
    line), ``dup_line_char_frac`` (fraction of line characters sitting in
    any line that occurs more than once), ``dup_word_frac`` (same idea
    over whitespace words).  Boilerplate-heavy and template-spam documents
    score high and get filtered upstream of training.

    Pure array expressions over one split per row (Generate barrier) —
    map-only, no shuffle.  The per-line occurrence count is O(lines²) per
    document, bounded by document size, never by corpus size.  NULL text
    yields NULL signals (row preserved)."""
    cols = df.columns
    base = _barrier(df, F.split(F.col(text_col), "\n"), "__lines")
    base = _barrier(base, _WORDS(F.col(text_col)), "__words", widen=False)
    lines, words = F.col("__lines"), F.col("__words")
    n_lines = F.size(lines)
    dup_chars = F.expr(
        "aggregate(__lines, 0L, (acc, x) -> acc + "
        "IF(size(filter(__lines, y -> y = x)) > 1, length(x), 0L))"
    )
    total_chars = F.expr("aggregate(__lines, 0L, (acc, x) -> acc + length(x))")
    null_guard = F.col(text_col).isNull()

    def _sig(c: Column) -> Column:
        # 1e-9 nudge: same systematic-tie rationale as quality_score —
        # makes Spark and a SQL oracle round half-way values identically
        return F.when(null_guard, F.lit(None)).otherwise(F.round(c + F.lit(1e-9), 4))

    return base.select(
        *cols,
        F.when(null_guard, F.lit(None)).otherwise(n_lines).cast("long").alias("n_lines"),
        _sig(F.lit(1.0) - F.size(F.array_distinct(lines)) / n_lines).alias("dup_line_frac"),
        _sig(dup_chars / F.nullif(total_chars, F.lit(0))).alias("dup_line_char_frac"),
        _sig(F.lit(1.0) - F.size(F.array_distinct(words)) / F.size(words)).alias("dup_word_frac"),
    )


def token_budget_sample(df: DataFrame, strata_col: str, budget_tokens: int,
                        text_col: str = "text",
                        order_col: str = "doc_id") -> DataFrame:
    """Corpus mixing by token budget: keep, per stratum (source/domain/
    language), the first documents by ``order_col`` until ``budget_tokens``
    whitespace tokens are reached — the "N billion tokens per source"
    step of assembling a training mix.  A document is kept when it STARTS
    before the budget is exhausted (cumulative tokens of strictly earlier
    docs < budget), so each stratum slightly overshoots rather than
    undershoots, matching how packing pipelines cut corpora.

    Adds ``doc_tokens`` and the running ``cum_tokens`` (inclusive) for
    auditability.  One shuffle on the stratum key; the running sum is a
    single window sort that AQE can skew-split, and nothing is collected
    to the driver.  For a random-but-reproducible mix, pass
    ``order_col=<hash column>`` built via ``F.xxhash64``."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(strata_col)
        .orderBy(F.col(order_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    base = df.withColumn("doc_tokens", token_count(F.col(text_col)))
    return (
        base.withColumn("cum_tokens", F.sum("doc_tokens").over(w))
        .filter(F.col("cum_tokens") - F.col("doc_tokens") < budget_tokens)
    )


def upsample_by_weight(df: DataFrame, strata_col: str,
                       weights: dict[str, float], id_col: str = "doc_id",
                       default_weight: float = 1.0,
                       frac_denom: int = 10) -> DataFrame:
    """Deterministic fractional upsampling per stratum — the
    "epochs-per-source" step of a training mix (e.g. wiki ×3.5,
    web ×1).  Every row is replicated ``floor(w)`` times, plus one more
    for the deterministic ``frac(w)`` share of rows selected by
    ``id_col % frac_denom < round(frac(w) * frac_denom)`` — reproducible
    across runs/retries with NO randomness, unlike ``df.sample`` whose
    output shifts with partitioning.  Weights are quantized to
    ``1/frac_denom`` steps.  Output: input columns + ``copy`` index
    (0-based).  Map-side ``explode(sequence(...))`` — zero shuffles; the
    fan-out multiplies bytes, which is the point.
    """
    if frac_denom <= 0:
        raise ValueError("frac_denom must be positive")
    if default_weight < 0:
        raise ValueError("negative default_weight")
    for s, w in weights.items():
        if w < 0:
            raise ValueError(f"negative weight for {s!r}")
    whole = F.floor(F.lit(float(default_weight))).cast("int")
    fracs = F.round(F.lit(float(default_weight) % 1.0) * frac_denom).cast("int")
    n_copies = whole + (F.col(id_col) % frac_denom < fracs).cast("int")
    for s, wt in weights.items():
        sw = F.floor(F.lit(float(wt))).cast("int")
        sf_ = F.round(F.lit(float(wt) % 1.0) * frac_denom).cast("int")
        n_copies = F.when(
            F.col(strata_col) == s,
            sw + (F.col(id_col) % frac_denom < sf_).cast("int"),
        ).otherwise(n_copies)
    return (
        df.withColumn("__n", n_copies)
        .filter(F.col("__n") > 0)
        .withColumn("copy", F.explode(F.sequence(F.lit(0), F.col("__n") - 1)))
        .drop("__n")
    )


def stratified_sample(df: DataFrame, strata_col: str, n_per_stratum: int,
                      order_col: str = "doc_id") -> DataFrame:
    """Deterministic per-stratum quota sample: the first
    ``n_per_stratum`` rows of each stratum by ``order_col`` — the
    language/domain-balancing step of a corpus pipeline.  For an
    unbiased random-but-reproducible sample, order by a hash of the id
    (``F.xxhash64``) instead of the id itself; the window shape is the
    same.  One shuffle on the stratum key; rank + filter never
    materializes more than the quota per stratum downstream."""
    from pyspark.sql import Window

    w = Window.partitionBy(strata_col).orderBy(F.col(order_col))
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= n_per_stratum)
        .drop("_rk")
    )


def gopher_filter(df: DataFrame, text_col: str = "text",
                  min_tokens: int = 50, max_tokens: int = 100_000,
                  min_avg_word_len: float = 3.0, max_avg_word_len: float = 10.0,
                  min_stopword_ratio: float = 0.06,
                  max_punct_ratio: float = 0.20,
                  max_dup_line_frac: float = 0.30,
                  max_dup_word_frac: float = 0.20) -> DataFrame:
    """Gopher-style document-quality rule bundle (Rae et al. 2021, §A1.2,
    thresholds adapted): length band, mean-word-length band, stopword
    floor, symbol/punctuation cap, and the duplicate-line/word repetition
    caps — each emitted as its own boolean plus the conjunctive ``keep``,
    so downstream can both filter and audit per-rule rejection rates.

    Composes :func:`text_stats` and :func:`repetition_signals` — all
    map-only array expressions over two splits per row, one scan, no
    shuffle; thresholds compare the ROUNDED (4-dp, nudged) signals so a
    SQL oracle lands on identical booleans."""
    out = repetition_signals(text_stats(df, text_col), text_col)
    pass_length = F.col("n_tokens").between(min_tokens, max_tokens)
    pass_word_len = F.col("avg_token_len").between(min_avg_word_len, max_avg_word_len)
    pass_stopwords = F.col("stopword_ratio") >= min_stopword_ratio
    pass_punct = F.col("punct_ratio") <= max_punct_ratio
    pass_repetition = ((F.col("dup_line_frac") <= max_dup_line_frac)
                       & (F.col("dup_word_frac") <= max_dup_word_frac))
    return (
        out.withColumn("pass_length", pass_length)
        .withColumn("pass_word_len", pass_word_len)
        .withColumn("pass_stopwords", pass_stopwords)
        .withColumn("pass_punct", pass_punct)
        .withColumn("pass_repetition", pass_repetition)
        .withColumn("keep", pass_length & pass_word_len & pass_stopwords
                    & pass_punct & pass_repetition)
    )


def pack_sequences(df: DataFrame, id_col: str, token_count_col: Column | str,
                   seq_len: int, n_shards: int | None = None) -> DataFrame:
    """Contiguous concat-and-chunk sequence packing for LLM training
    prep: documents in ``id_col`` order are laid head-to-tail into one
    token stream; each doc reports the training sequence its FIRST token
    lands in (``pack_id``), its offset inside that sequence
    (``pack_offset``), and its global stream position (``start_tok``).

    The global running offset is computed WITHOUT a global sort:
    ``repartitionByRange(id)`` gives disjoint ascending id ranges per
    partition, a window per partition computes the local cumulative sum,
    and the per-partition totals (one tiny row each) are prefix-summed
    and joined back by partition id — the classic two-phase parallel
    prefix sum, so the only single-point step touches ``n_shards`` rows,
    not the corpus.  Equivalent to (and oracle-checked against) a single
    global cumulative-sum window."""
    spark = df.sparkSession
    n = n_shards or spark.sparkContext.defaultParallelism
    tok = F.col(token_count_col) if isinstance(token_count_col, str) else token_count_col
    from pyspark.sql import Window

    d = (df.repartitionByRange(n, F.col(id_col))
         .withColumn("__tok", tok.cast("long"))
         .withColumn("__pid", F.spark_partition_id()))
    w_local = (Window.partitionBy("__pid").orderBy(id_col)
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    d = d.withColumn("__cum_local", F.sum("__tok").over(w_local))
    totals = d.groupBy("__pid").agg(F.sum("__tok").alias("__ptot"))
    w_tot = (Window.orderBy("__pid")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    offsets = totals.withColumn(
        "__poff", F.sum("__ptot").over(w_tot) - F.col("__ptot")).drop("__ptot")
    packed = (
        d.join(F.broadcast(offsets), "__pid")
        .withColumn("start_tok", F.col("__poff") + F.col("__cum_local") - F.col("__tok"))
        .withColumn("pack_id", F.floor(F.col("start_tok") / seq_len))
        .withColumn("pack_offset", F.col("start_tok") % seq_len)
        .drop("__pid", "__cum_local", "__poff")
        .withColumnRenamed("__tok", "n_tokens")
    )
    return packed


def unigram_logprob(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Per-document average negative log-probability under a unigram
    language model fitted on the corpus itself — the CCNet/RedPajama
    "LM quality" proxy in its simplest self-contained form (lower =
    more typical text; gibberish and boilerplate-heavy docs score high).

    Two aggregation passes, both JVM-side: (1) corpus word frequencies
    (hash-agg with map-side combine — the vocab is bounded by distinct
    words, not corpus size); (2) words⋈vocab equi-join shuffled on the
    word, re-aggregated per doc.  The corpus total crosses as a one-row
    broadcast, never a driver scalar.  At 100 TB swap pass 1's exact
    counts for a count-min sketch or a frequency floor if the raw vocab
    exceeds executor memory."""
    words = df.select(F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("__w"))
    vocab = words.groupBy("__w").agg(F.count(F.lit(1)).alias("__c"))
    total = vocab.agg(F.sum("__c").alias("__tot"))
    p = (vocab.crossJoin(F.broadcast(total))
         .select("__w", (F.col("__c") / F.col("__tot")).alias("__p")))
    return (
        words.join(p, "__w")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_words"),
             F.round(F.avg(-F.log("__p")), 6).alias("avg_neg_logp"))
    )


def bigram_logprob(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", lam: float = 0.7,
                   reference: DataFrame | None = None) -> DataFrame:
    """Per-document average negative log-probability under an
    INTERPOLATED bigram language model — the KenLM/CCNet-style quality
    proxy one order up from :func:`unigram_logprob`:  ``p(w2|w1) =
    lam * c(w1 w2)/c_prefix(w1) + (1-lam) * c(w2)/total``, counts
    fitted on ``reference`` (a trusted corpus — Wikipedia in CCNet) and
    scored over ``df``.  ``reference=None`` fits on ``df`` itself; note
    the self-fit artifact: a SINGLETON prefix makes its one continuation
    perfectly predictable (p_bi = 1), so self-fit scores flag repetitive
    text but NOT out-of-domain gibberish — pass a reference corpus for
    quality filtering (the unit test pins this distinction).

    Back-off: a bigram unseen in the reference contributes only its
    ``(1-lam)`` unigram term; an OOV word gets the floor ``1/total``
    (one phantom count), so every document scores finitely — no
    discounting state, the whole model is three hash-aggs.

    Shape (all JVM-side, no Python in the path):  bigrams are built
    map-only from the token array (``transform`` over ``sequence`` —
    no window, no self-join); counts are vocab-bounded hash-aggs with
    map-side combine; scoring is two LEFT equi-joins shuffled on
    (w1,w2) and w2.  The corpus total crosses as a one-row broadcast.
    At 100 TB the bigram vocab is the memory bound — swap exact counts
    for a count-min sketch (functions/scale.py) past executor memory.
    Documents with fewer than two tokens have no bigrams and are
    absent from the result (score of an empty sequence is undefined).
    """
    ref = df if reference is None else reference

    def _bigrams(frame: DataFrame, keep_id: bool) -> DataFrame:
        cols = [F.col(id_col)] if keep_id else []
        toks = frame.select(*cols, F.split(F.col(text_col), " ").alias("__l"))
        return (
            toks.filter(F.expr("size(__l) >= 2"))
            .select(*cols, F.posexplode(F.expr(
                "transform(sequence(1, size(__l) - 1), "
                "i -> struct(element_at(__l, i) AS w1, "
                "element_at(__l, i + 1) AS w2))")).alias("__i", "__bg"))
            .select(*cols, F.col("__bg.w1").alias("__w1"),
                    F.col("__bg.w2").alias("__w2")))

    bi = (_bigrams(ref, keep_id=False)
          .groupBy("__w1", "__w2").agg(F.count(F.lit(1)).alias("__cb")))
    prefix = bi.groupBy("__w1").agg(F.sum("__cb").alias("__cp"))
    words = ref.select(F.explode(F.split(F.col(text_col), " ")).alias("__w"))
    uni = words.groupBy("__w").agg(F.count(F.lit(1)).alias("__cu"))
    total = uni.agg(F.sum("__cu").alias("__tot"))
    p_uni = (uni.crossJoin(F.broadcast(total))
             .select(F.col("__w").alias("__w2"),
                     (F.col("__cu") / F.col("__tot")).alias("__pu")))
    p_bi = (bi.join(prefix, "__w1")
            .select("__w1", "__w2", (F.col("__cb") / F.col("__cp")).alias("__pb")))
    return (
        _bigrams(df, keep_id=True)
        .join(p_bi, ["__w1", "__w2"], "left")
        .join(p_uni, "__w2", "left")
        .crossJoin(F.broadcast(total))
        .withColumn("__p", F.lit(lam) * F.coalesce(F.col("__pb"), F.lit(0.0))
                    + F.lit(1.0 - lam)
                    * F.coalesce(F.col("__pu"), F.lit(1.0) / F.col("__tot")))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_bigrams"),
             F.round(F.avg(-F.log("__p")), 6).alias("avg_neg_logp"))
    )


def hash_split(df: DataFrame, id_col: str, train: int = 80, val: int = 10,
               split_col: str = "split") -> DataFrame:
    """Deterministic train/val/test assignment from the row id alone —
    the property that matters in a training pipeline is that membership
    is a PURE FUNCTION of the id: stable across reruns, partitionings,
    cluster sizes, and engine versions, so no example ever migrates
    between train and test.

    Buckets via a Knuth multiplicative hash (``id·2654435761 mod 97``) —
    plain bigint arithmetic that any engine reproduces bit-for-bit
    (which is also what makes it oracle-checkable); swap in
    ``xxhash64`` when ids are adversarial/clustered and cross-engine
    reproducibility is not required.  Computed as
    ``pmod(pmod(id, 97) · (2654435761 mod 97), 97)`` — identical by
    modular arithmetic, but the intermediate is bounded (< 97·96) so it
    can never overflow int64: the raw product wraps silently in Spark
    (ansi=false) for ids ≳ 3.5e9 while DuckDB raises, which would break
    the cross-engine bit-for-bit claim exactly where it matters.
    ``pmod`` also gives negative ids a well-defined bucket instead of
    funnelling them all into "test".  Map-only: zero shuffles.

    .. note:: **Assignment change (r5):** the bounded-pmod rewrite keeps
       assignments identical for ordinary non-negative ids (< ~3.5e9)
       but intentionally CHANGES the bucket for negative ids (previously
       all funnelled into "test") and for ids large enough that the old
       ``id·2654435761`` product wrapped int64.  A persisted
       train/val/test split keyed on such ids silently re-splits under
       this version — re-materialize persisted splits deliberately when
       upgrading across it (same applies to ``dsir_select``'s Gumbel
       term, which uses the identical hash)."""
    if not (0 < train and 0 <= val and train + val < 97):
        raise ValueError("need 0 < train, 0 <= val, train + val < 97")
    b = F.pmod(F.pmod(F.col(id_col).cast("long"), F.lit(97))
               * F.lit(2654435761 % 97), F.lit(97))
    return df.withColumn(
        split_col,
        F.when(b < train, F.lit("train"))
        .when(b < train + val, F.lit("val"))
        .otherwise(F.lit("test")))


def dsir_select(raw: DataFrame, target: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", k: int | None = None,
                lam: float = 1.0, gumbel: bool = True) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023,
    arXiv:2302.03169): score every raw document by how much more likely
    it is under a bag-of-words LM fitted on a small TARGET corpus than
    under one fitted on the raw corpus, then resample the top ``k`` by
    Gumbel-perturbed log-weight.

    log w(x) = sum_words [ log p_target(w) - log p_raw(w) ]  with add-λ
    smoothing over the UNION vocabulary (so unseen-in-target words get a
    finite penalty instead of -inf).  The paper hashes n-grams into a
    fixed bucket space; this form keeps raw words — exact, engine-
    reproducible (the DuckDB oracle runs the same SQL), and the vocab
    agg is bounded by DISTINCT WORDS, not corpus size.  At 100 TB, swap
    the word key for ``xxhash64(word) % B`` to cap the LM table at B
    rows — every join below is key-agnostic.

    The resampling noise is a DETERMINISTIC Gumbel: u is a Knuth
    multiplicative hash of the doc id mapped into (0,1), g = -ln(-ln u).
    Same trick as hash_split — a pure function of the id, so selection
    is stable across reruns/partitionings AND oracle-checkable, while
    still giving the paper's Gumbel-top-k sampling semantics (docs with
    high weight are likely-but-not-certain picks).  ``gumbel=False``
    degrades to plain top-k by weight.

    Plan shape: two word-level hash-aggs (map-side combined) + one
    full-outer vocab join + a one-row totals broadcast + one words⋈LM
    shuffle re-aggregated per doc + TakeOrderedAndProject for the
    top-k.  No driver scalars; nothing scales with corpus x corpus.

    Both rounded outputs are SIGNED (log-likelihood ratios sum either
    way; the Gumbel shift is unbounded below), so a score in
    (-5e-5, 0) rounds to IEEE ``-0.0`` — canonicalized to ``+0.0`` on
    both engines (plans/query.py canon0 rationale).

    .. note:: **Assignment change (r5):** the Gumbel term inherited
       hash_split's bounded-pmod rewrite — selections differ from prior
       releases for negative or int64-wrapping doc ids; re-rank
       persisted selections deliberately when upgrading (see
       :func:`hash_split`).
    """
    if lam <= 0:
        raise ValueError("lam must be positive")
    rw = raw.select(F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("__w"))
    tw = target.select(F.explode(F.split(F.col(text_col), " ")).alias("__w"))
    rc = rw.groupBy("__w").agg(F.count(F.lit(1)).alias("__cr"))
    tc = tw.groupBy("__w").agg(F.count(F.lit(1)).alias("__ct"))
    vocab = (rc.join(tc, "__w", "full_outer")
             .select("__w",
                     F.coalesce("__cr", F.lit(0)).alias("__cr"),
                     F.coalesce("__ct", F.lit(0)).alias("__ct"))
             # the LM table is referenced twice (totals + per-word
             # ratio) and exchange reuse does not dedupe the full-outer
             # subtree; materialize it ONCE, lazily — it is bounded by
             # the distinct-word (or hashed-bucket) vocab, never corpus-
             # sized, and is exactly the artifact a real DSIR run
             # persists between the fit and scoring phases
             .localCheckpoint(eager=False))
    totals = vocab.agg(F.sum("__cr").alias("__nr"), F.sum("__ct").alias("__nt"),
                       F.count(F.lit(1)).alias("__v"))
    lr = (vocab.crossJoin(F.broadcast(totals))
          .select("__w",
                  (F.log((F.col("__ct") + lam) / (F.col("__nt") + lam * F.col("__v")))
                   - F.log((F.col("__cr") + lam) / (F.col("__nr") + lam * F.col("__v")))
                   ).alias("__lr")))
    scored = (rw.join(lr, "__w")
              .groupBy(id_col)
              # + 0.0 canonicalizes a -0.0 round (signed sum of ratios)
              .agg((F.round(F.sum("__lr"), 4) + F.lit(0.0)).alias("log_weight"),
                   F.count(F.lit(1)).alias("n_words")))
    if gumbel:
        # bounded-intermediate Knuth hash, same rationale as hash_split:
        # pmod first so the product stays < 1000003·427799 (no int64
        # wrap for huge ids, no engine divergence) and negative ids get
        # u in (0,1) instead of u<0 whose log(-log u) is NaN
        u = (F.pmod(F.pmod(F.col(id_col).cast("long"), F.lit(1000003))
                    * F.lit(2654435761 % 1000003), F.lit(1000003))
             .cast("double") + 0.5) / 1000003.0
        scored = scored.withColumn(
            "score",
            F.round(F.col("log_weight") - F.log(-F.log(u)), 4) + F.lit(0.0))
    else:
        scored = scored.withColumn("score", F.col("log_weight"))
    out = scored.select(id_col, "log_weight", "n_words", "score")
    if k is not None:
        out = out.orderBy(F.desc("score"), F.col(id_col)).limit(k)
    return out


def tfidf_top_terms(df: DataFrame, top_n: int = 3, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Top-``top_n`` terms per document by TF-IDF (smoothed sklearn-style
    idf = ln((N+1)/(df+1)) + 1) — the classic keyword/topic-signal
    extraction pass over a training corpus.

    All JVM-side, three bounded aggregations: (1) per-(doc, term) tf is
    a hash-agg with map-side combine over the exploded words; (2) each
    term's document frequency is a second hash-agg OVER THE TF ROWS
    (never re-touching the corpus); (3) the corpus doc count crosses as
    a one-row broadcast.  The final per-doc top-n is a window
    partitioned by document — parallelism = number of docs, no global
    sort anywhere.  (score desc, term asc) makes the cut deterministic,
    which is what lets the oracle hash-match rather than rows-only."""
    from pyspark.sql import Window

    words = df.select(F.col(id_col),
                      F.explode(_WORDS(F.col(text_col))).alias("term"))
    tf = words.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = df.agg(F.count(F.lit(1)).alias("n"))
    scored = (tf.join(dfreq, "term")
              .crossJoin(F.broadcast(n))
              .select(id_col, "term", "tf",
                      (F.col("tf") * (F.log((F.col("n") + 1.0)
                                            / (F.col("df") + 1.0)) + 1.0)
                       ).alias("score")))
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.col("term"))
    return (scored.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= top_n)
            .select(id_col, "term", F.col("tf").cast("long").alias("tf"),
                    F.round("score", 6).alias("score"),
                    F.col("rnk").cast("int").alias("rnk")))


def vocab_coverage(df: DataFrame, top_k: int = 50,
                   text_col: str = "text") -> DataFrame:
    """The Zipf head of the corpus vocabulary: the ``top_k`` most
    frequent tokens with each one's rank and the CUMULATIVE fraction of
    all token occurrences covered so far — the curve a tokenizer/vocab
    builder reads to pick a vocabulary size ("the top 50 tokens cover
    X% of the corpus").

    Build: one map-side-combined hash-agg to (term, cnt) — bounded by
    distinct terms, not corpus size — then TakeOrdered for the top-k
    (never a global sort) and a cumulative sum over just those k rows
    (the bounded single-partition-window exception, same as
    quantile_estimate).  The grand total crosses as a one-row
    broadcast.  (cnt desc, term asc) ordering is fully deterministic."""
    from pyspark.sql import Window

    words = df.select(F.explode(_WORDS(F.col(text_col))).alias("term"))
    vocab = words.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("tot"))
    top = vocab.orderBy(F.desc("cnt"), F.col("term")).limit(top_k)
    w = (Window.orderBy(F.desc("cnt"), F.col("term"))
         .rowsBetween(Window.unboundedPreceding, 0))
    return (top.crossJoin(F.broadcast(total))
            .select(F.row_number().over(
                        Window.orderBy(F.desc("cnt"), F.col("term")))
                    .cast("int").alias("rank"),
                    "term", F.col("cnt").cast("long").alias("cnt"),
                    F.round(F.sum("cnt").over(w).cast("double")
                            / F.col("tot").cast("double"), 6)
                    .alias("cum_frac")))


def temperature_mix_weights(df: DataFrame, strata_col: str,
                            alpha: float = 0.7,
                            count_col: str | None = None) -> DataFrame:
    """Temperature-scaled sampling weights per stratum — the multilingual
    /multi-domain mixing rule (α-smoothing, Conneau & Lample 2019):
    ``p_s = n_s / Σn``, ``w_s = p_s^α / Σ p^α``.  α < 1 upsamples the
    tail (low-resource languages/domains) relative to raw proportions;
    α = 1 is proportional, α = 0 uniform.  ``count_col`` weights by a
    size column (e.g. token counts) instead of rows.

    ONE corpus scan: the stratum counts are a single map-side-combined
    hash-agg (output = #strata rows), and both normalizers (Σn, Σp^α)
    are whole-frame windows over just those rows — the bounded
    single-partition-window exception (#strata is small by definition;
    a broadcast-join formulation here would rescan the corpus once per
    normalizer, which is what this replaces).  Output per stratum: n,
    p, w, and the effective upsampling factor w/p, all rounded for the
    oracle."""
    from pyspark.sql import Window

    wall = Window.rowsBetween(Window.unboundedPreceding,
                              Window.unboundedFollowing)
    cnt = (F.sum(count_col) if count_col else F.count(F.lit(1)))
    per = df.groupBy(strata_col).agg(cnt.cast("double").alias("n"))
    p = per.withColumn("p", F.col("n") / F.sum("n").over(wall))
    w = F.pow("p", F.lit(alpha)) / F.sum(F.pow("p", F.lit(alpha))).over(wall)
    return p.select(strata_col, F.col("n").cast("long").alias("n"),
                    F.round("p", 6).alias("p"),
                    F.round(w, 6).alias("w"),
                    F.round(w / F.col("p"), 4).alias("upsample"))


def feature_hash(df: DataFrame, text_col: str, id_col: str,
                 n_features: int = 16) -> DataFrame:
    """Hashing-trick featurization (Weinberger et al.; the
    HashingVectorizer/HashingTF shape): whitespace-tokenize, hash each
    token to one of ``n_features`` buckets, count per (doc, bucket) —
    emitted as ``n_features`` wide int64 columns ``f0..f{n-1}``.

    Why this beats a vocabulary at 100 TB: a count-vectorizer needs a
    GLOBAL token dictionary — an extra full-corpus distinct + a
    broadcast that grows with the crawl and breaks incremental
    processing (new tokens renumber everything).  The hashed projection
    is stateless and corpus-independent: a doc's features never change
    when the corpus grows, shards can be featurized independently, and
    the whole op is one explode + one map-side-combined hash-agg on the
    doc id (token rows never shuffle — the wide CASE aggregation
    reduces them in place).  Bucket = md5(token)'s top 60 bits mod
    n_features — JVM-codegen expressions (no Python), engine-portable
    (the same arithmetic is expressible in any SQL engine, which is
    what the oracle checks)."""
    tok = (df.select(F.col(id_col),
                     F.explode(F.split(F.lower(F.col(text_col)), r"\s+"))
                     .alias("__tok"))
           .filter(F.col("__tok") != ""))
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("__tok")), 1, 15), 16, 10)
        .cast("long"),
        F.lit(n_features))
    aggs = [F.sum(F.when(F.col("__b") == i, 1).otherwise(0)).cast("long")
            .alias(f"f{i}") for i in range(n_features)]
    return tok.withColumn("__b", bucket).groupBy(id_col).agg(*aggs)


def build_vocab(df: DataFrame, text_col: str = "text",
                vocab_size: int = 1 << 15) -> DataFrame:
    """Frequency-ranked token vocabulary (token, token_id), id 1..V by
    (count DESC, token) — the deterministic tie-break makes the
    artifact reproducible run-to-run, which is what lets a training
    corpus be re-encoded incrementally without renumbering.  Id 0 is
    reserved for OOV/unk.  One hash-agg over the corpus (bounded by
    distinct tokens) + a TakeOrdered to the vocab size — the ranking
    never globally sorts the full token frequency table."""
    tok = (df.select(F.explode(F.split(F.lower(F.col(text_col)), r"\s+"))
                     .alias("token"))
           .filter(F.col("token") != ""))
    vc = tok.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    top = vc.orderBy(F.desc("n"), "token").limit(vocab_size)
    w = Window.orderBy(F.desc("n"), "token")
    # the window runs on ≤ vocab_size rows (post-limit) — the bounded
    # single-partition-window exception, same as vocab_coverage
    return top.select(F.col("token"),
                      F.row_number().over(w).cast("int").alias("token_id"))


def encode_with_vocab(df: DataFrame, vocab: DataFrame,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Encode documents to token-id arrays through a vocabulary
    (:func:`build_vocab`): OOV tokens become id 0.  The join side is
    the vocab (broadcast — it is vocab_size rows by construction);
    token order is restored by collecting (pos, id) structs and
    sorting INSIDE the aggregation buffer (array_sort of structs —
    bounded by doc length, never a corpus-wide sort).  One shuffle,
    keyed by doc id.  Output: (id, ids array<int>, n_tokens, n_oov)."""
    tok = (df.select(F.col(id_col),
                     F.posexplode(F.split(F.lower(F.col(text_col)), r"\s+"))
                     .alias("pos", "token"))
           .filter(F.col("token") != ""))
    enc = (tok.join(F.broadcast(vocab), "token", "left")
           .select(id_col, "pos",
                   F.coalesce(F.col("token_id"), F.lit(0)).alias("tid")))
    return (enc.groupBy(id_col)
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tid"))),
                lambda x: x["tid"]).alias("ids"),
                F.count(F.lit(1)).cast("long").alias("n_tokens"),
                F.sum(F.when(F.col("tid") == 0, 1).otherwise(0))
                .cast("long").alias("n_oov")))


def bpe_train_merges(df: DataFrame, text_col: str = "text",
                     n_merges: int = 3) -> DataFrame:
    """Byte-pair-encoding merge TRAINING over a corpus — the real
    tokenizer-building step (learn the merge table), not just the
    BPE-ish token count this module already has.  Classic
    Sennrich-style word-frequency formulation:

    1. one corpus pass builds the word-frequency table ([a-z]+ words —
       the normalization standard BPE corpora apply anyway, and it
       keeps symbol strings disjoint from the ``</w>`` marker);
    2. each word becomes a space-separated symbol string
       (``h e l l o </w>``);
    3. per merge round: adjacent-pair counts weighted by word freq
       (pairs via slice+zip of the symbol array — pure array ops, NO
       window and NO shuffle beyond one pair hash-agg), the top pair
       by (count DESC, pair ASC), then ONE literal replace
       re-segments every word (non-overlapping left-to-right scan —
       Java, Python and DuckDB agree, pinned by test).

    Scale shape: the corpus is read once; every round works on the
    word-frequency table (vocabulary-sized, not corpus-sized — the
    classic trick that makes BPE training tractable), and only the
    1-row top pair comes to the driver per round.  Returns one row per
    learned merge: (rank, pair, merged, cnt)."""
    wf = (df.select(F.explode(F.split(F.lower(F.col(text_col)), r"\s+"))
                    .alias("w"))
          .filter(F.col("w").rlike("^[a-z]+$"))
          .groupBy("w").agg(F.count(F.lit(1)).alias("freq")))
    # h e l l o </w>
    seg = (F.concat(
        F.array_join(F.transform(F.sequence(F.lit(1), F.length("w")),
                                 lambda i: F.substring(F.col("w"), i, 1)),
                     " "),
        F.lit(" </w>")))
    wf = wf.select(seg.alias("seg"), "freq")
    from pyspark import StorageLevel

    merges = []
    for rank in range(1, n_merges + 1):
        wf = wf.persist(StorageLevel.MEMORY_AND_DISK)
        syms = F.split(F.col("seg"), " ")
        n = F.size(syms)
        pairs = F.zip_with(F.slice(syms, 1, n - 1),
                           F.slice(syms, 2, n - 1),
                           lambda a, b: F.concat(a, F.lit(" "), b))
        top = (wf.select(F.explode(pairs).alias("pair"), "freq")
               .groupBy("pair").agg(F.sum("freq").alias("cnt"))
               .orderBy(F.desc("cnt"), "pair").limit(1).collect())
        if not top:
            break
        pair, cnt = top[0]["pair"], top[0]["cnt"]
        merged = pair.replace(" ", "")
        merges.append((rank, pair, merged, cnt))
        old = wf
        # Boundary-aware greedy re-segmentation (Sennrich semantics,
        # r10 ADVICE): the naive ` pair ` literal replace consumes the
        # separator space, so a run of 4+ identical symbols
        # under-merges ('a a a a' -> 'aa a a' instead of 'aa aa').
        # Doubling every separator first makes each boundary space
        # shared-free — the pattern ` A  B ` consumes one space on
        # each side and leaves one for the neighbouring match — so a
        # plain left-to-right non-overlapping replace becomes exactly
        # the greedy pairwise merge; collapse the doubles afterwards.
        # Same construction in the DuckDB oracle (replace() is
        # left-to-right non-overlapping on both engines).
        doubled = F.replace(
            F.concat(F.lit(" "), F.col("seg"), F.lit(" ")),
            F.lit(" "), F.lit("  "))
        pat = " " + pair.replace(" ", "  ") + " "
        wf = wf.select(
            F.trim(F.replace(F.replace(doubled, F.lit(pat),
                                       F.lit(f" {merged} ")),
                             F.lit("  "), F.lit(" ")))
            .alias("seg"), "freq")
        wf = wf.localCheckpoint(eager=True)  # cut lineage; free the parent
        old.unpersist()
    return local_frame(df.sparkSession, merges,
                       "rank int, pair string, merged string, cnt bigint")
