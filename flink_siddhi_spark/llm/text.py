"""Text-analysis operators for large-scale training-data pipelines.

All operators are pure Catalyst expressions (higher-order array functions —
no Python UDFs), so they whole-stage-codegen and scale linearly with input:
token counting, quality scoring, n-gram language ID, and document
fingerprinting over a ``documents(doc_id, text, ...)`` table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# tiny stopword lists for the n-gram/stopword language heuristic
EN_STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "on", "for", "with")
ES_STOPWORDS = ("el", "la", "de", "que", "y", "en", "un", "por", "con", "una")


def with_words(df: DataFrame, text_col: str = "text", out: str = "__words") -> DataFrame:
    return df.withColumn(out, F.split(F.lower(F.col(text_col)), " "))


# GPT-2-style pre-tokenizer shape (ASCII classes so the Java and RE2 regex
# engines tokenize identically): contractions, space-prefixed word / number /
# punctuation runs. Each piece is what a BPE tokenizer would then split into
# subwords — counting pieces is the standard cheap token estimate.
BPE_SPLIT_RE = r"'[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+"


def token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace tokens, a BPE-ish pre-tokenizer piece count (GPT-2-style
    regex, pure JVM ``regexp_extract_all``), and a chars/4 subword estimate."""
    words = F.split(F.col(text_col), " ")
    pieces = F.expr(f'regexp_extract_all({text_col}, "{BPE_SPLIT_RE}", 0)')
    return (
        df.withColumn("n_tokens", F.size(words))
        .withColumn("n_bpe_pieces", F.size(pieces).cast("bigint"))
        .withColumn(
            "n_subwords_est", F.ceil(F.length(F.col(text_col)) / F.lit(4)).cast("bigint")
        )
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword-ratio quality features + a 0-1 score."""
    text = F.col(text_col)
    words = F.split(F.lower(text), " ")
    n_words = F.size(words)
    n_chars = F.length(text)
    stop_hits = F.size(F.filter(words, lambda w: w.isin(*EN_STOPWORDS)))
    mean_word_len = (n_chars - (n_words - 1)) / n_words  # spaces removed
    stop_ratio = stop_hits / n_words
    score = (
        F.when(n_words < 5, F.lit(0.0))
        .otherwise(
            F.least(F.lit(1.0), n_words / F.lit(100.0)) * F.lit(0.5)
            + F.least(F.lit(1.0), stop_ratio * F.lit(5.0)) * F.lit(0.5)
        )
    )
    return (
        df.withColumn("n_chars_m", n_chars.cast("bigint"))
        .withColumn("n_words", n_words.cast("bigint"))
        .withColumn("mean_word_len", F.round(mean_word_len, 6))
        .withColumn("stopword_ratio", F.round(stop_ratio, 6))
        .withColumn("quality", F.round(score, 6))
    )


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 10,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_word_frac: float = 0.8,
    min_stopwords: int = 2,
) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021 §A1.1 repetition
    rules live in :func:`repetition_ratio`; these are the length/shape
    heuristics). Emits one boolean per rule plus the conjunction
    ``gopher_pass`` so downstream can audit WHICH rule dropped a doc — the
    standard pretraining-filter requirement (silent drops are undebuggable
    at 100 TB).

    Rules: word count in [min_words, max_words]; mean word length in
    [min_mean_word_len, max_mean_word_len]; '#'/'…'-to-word symbol ratio <=
    max_symbol_ratio; fraction of words containing an alphabetic char >=
    min_alpha_word_frac; >= min_stopwords distinct-position stopword hits.

    All pure codegen string expressions — no shuffle, no UDF; ratios round
    to 6 decimals (engine-exact compare contract)."""
    text = F.col(text_col)
    words = F.split(F.lower(text), " ")
    n_words = F.size(words)
    n_chars = F.length(text)
    mean_wl = (n_chars - (n_words - 1)) / n_words
    n_hash = n_chars - F.length(F.regexp_replace(text, "#", ""))
    n_ellipsis = (
        n_chars - F.length(F.regexp_replace(text, "\\.\\.\\.", ""))
    ) / F.lit(3)
    symbol_ratio = (n_hash + n_ellipsis) / n_words
    alpha_frac = (
        F.size(F.filter(words, lambda w: w.rlike("[a-z]"))) / n_words
    )
    stop_hits = F.size(F.filter(words, lambda w: w.isin(*EN_STOPWORDS)))
    r_words = (n_words >= min_words) & (n_words <= max_words)
    r_mean = (mean_wl >= min_mean_word_len) & (mean_wl <= max_mean_word_len)
    r_symbol = symbol_ratio <= max_symbol_ratio
    r_alpha = alpha_frac >= min_alpha_word_frac
    r_stop = stop_hits >= min_stopwords
    return (
        df.withColumn("n_words", n_words.cast("bigint"))
        .withColumn("mean_word_len", F.round(mean_wl, 6))
        .withColumn("symbol_ratio", F.round(symbol_ratio, 6))
        .withColumn("alpha_word_frac", F.round(alpha_frac, 6))
        .withColumn("n_stopword_hits", stop_hits.cast("bigint"))
        .withColumn("rule_word_count", r_words)
        .withColumn("rule_mean_word_len", r_mean)
        .withColumn("rule_symbol_ratio", r_symbol)
        .withColumn("rule_alpha_words", r_alpha)
        .withColumn("rule_stopwords", r_stop)
        .withColumn(
            "gopher_pass", r_words & r_mean & r_symbol & r_alpha & r_stop
        )
    )


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-hit language heuristic (deterministic; no external models)."""
    words = F.split(F.lower(F.col(text_col)), " ")
    en = F.size(F.filter(words, lambda w: w.isin(*EN_STOPWORDS)))
    es = F.size(F.filter(words, lambda w: w.isin(*ES_STOPWORDS)))
    n = F.size(words)
    guess = (
        F.when((en * 20 >= n) & (en >= es), F.lit("en"))
        .when(es * 20 > n, F.lit("es"))
        .otherwise(F.lit("unknown"))
    )
    return df.withColumn("en_hits", en.cast("bigint")).withColumn(
        "es_hits", es.cast("bigint")
    ).withColumn("lang_guess", guess)


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Normalized-content fingerprint (md5 of lowercased, space-collapsed text)."""
    norm = F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")
    return df.withColumn("fp", F.md5(norm))


def repetition_ratio(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Intra-document repetition signals (Gopher/RefinedWeb-style quality
    filters): the fraction of duplicate words and duplicate word-2-grams in
    each document. High ratios flag boilerplate / template / spam pages.

    Pure Catalyst array expressions (split / array_distinct / transform) —
    whole-stage codegen, no shuffle, scales linearly with corpus size."""
    words = F.split(F.lower(F.col(text_col)), " ")
    n = F.size(words)
    dup_word = F.when(n >= 2, F.round(1 - F.size(F.array_distinct(words)) / n, 6)).otherwise(
        F.lit(0.0)
    )
    grams = F.transform(
        F.sequence(F.lit(0), n - 2),
        lambda i: F.concat_ws(" ", F.slice(words, i + 1, 2)),
    )
    n_grams = n - 1
    dup_gram = F.when(
        n >= 3, F.round(1 - F.size(F.array_distinct(grams)) / n_grams, 6)
    ).otherwise(F.lit(0.0))
    return (
        df.withColumn("n_words", n.cast("bigint"))
        .withColumn("dup_word_ratio", dup_word)
        .withColumn("dup_2gram_ratio", dup_gram)
    )


PII_PATTERNS = [
    # (label, regex) — applied in order; deterministic, engine-portable RE2-free syntax
    ("EMAIL", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("PHONE", r"\+?\d{1,2}[ .-]?\(?\d{3}\)?[ .-]?\d{3}[ .-]?\d{4}"),
    ("IPV4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"),
    ("SSN", r"\b\d{3}-\d{2}-\d{4}\b"),
]


def pii_scrub(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact common PII shapes with typed placeholders (`<EMAIL>` etc.) and
    count redactions per document. Pure regexp_replace — JVM-side, one pass
    per pattern, no UDFs; patterns are ANSI-regex so the DuckDB oracle runs
    the identical replacement."""
    scrubbed = F.col(text_col)
    for label, pat in PII_PATTERNS:
        scrubbed = F.regexp_replace(scrubbed, pat, f"<{label}>")
    n_hits = F.lit(0)
    for label, _ in PII_PATTERNS:
        n_hits = n_hits + F.size(F.split(scrubbed, f"<{label}>")) - 1
    return df.withColumn("scrubbed", scrubbed).withColumn(
        "n_redactions", n_hits.cast("bigint")
    )


def corpus_ngram_stats(
    df: DataFrame, n: int = 3, top_k: int = 50, min_docs: int = 2,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-wide heavy-hitter word n-grams by document frequency —
    boilerplate detection ("all rights reserved" headers/footers show up in
    a large fraction of a web crawl and should be stripped before training).

    Scale shape: explode doc-DISTINCT shingles (dedup.shingle_table) -> ONE
    hash-aggregate on the shingle (map-side partial counts, a single shuffle
    on a short string key) -> deterministic top-k via TakeOrdered on
    (n_docs DESC, ngram) — never a global sort materialization. Returns
    (ngram, n_docs) rows, a total order so LIMIT is reproducible."""
    from .dedup import _spread, shingle_table

    sh = shingle_table(_spread(df.select(id_col, text_col)), text_col, id_col, n)
    return (
        sh.groupBy(F.col("shingle").alias("ngram"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .orderBy(F.desc("n_docs"), "ngram")
        .limit(top_k)
    )


def tfidf_top_terms(
    df: DataFrame, k: int = 5, text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Per-document top-``k`` TF-IDF terms (keyword extraction / topic
    signals for corpus curation).

    Scale shape: explode words -> per-(doc, term) TF hash-aggregate (one
    shuffle) -> per-term document frequency from the SAME aggregated frame
    (second, smaller shuffle on the term key) -> shuffle equi-join TF x DF on
    the term (the vocabulary is NOT broadcast — at web scale it is billions
    of terms) -> per-doc top-k via row_number partitioned by doc (scales
    with document count; never a global sort). IDF = ln((N+1)/(df+1)),
    scores rounded to 6 decimals for engine-portable determinism; ties
    broken by term."""
    w = df.select(F.col(id_col), F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("term"))
    tf = w.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("dfreq"))
    n_docs = df.select(F.count(F.lit(1)).alias("__nd"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(F.col("tf") * F.log((F.col("__nd") + 1.0) / (F.col("dfreq") + 1.0)), 6),
        )
    )
    from pyspark.sql import Window

    rn = F.row_number().over(
        Window.partitionBy(id_col).orderBy(F.desc("score"), "term")
    )
    return (
        scored.withColumn("rn", rn)
        .filter(F.col("rn") <= k)
        .select(id_col, "term", "score")
    )


def unigram_lm_score(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style language-model quality proxy: mean -log2 p(word) under the
    corpus's own unigram distribution (low = common/fluent text, high =
    rare-token noise; used to bucket web corpora into quality tiers).

    Scale shape: explode words -> global term-count aggregate (one shuffle,
    map-side partials) -> shuffle equi-join words x counts on the term key
    (vocabulary-sized side, NOT broadcast at web scale) -> per-doc sum.
    Per-word -log2 p is rounded to 6 decimals and summed through
    DECIMAL(25,6), so the result is independent of partition count and
    accumulation order (the repo-wide deterministic-float contract).

    Emits the exact decimal ``sum_neg_log2p`` plus ``n_words`` rather than
    the divided mean: a double division of the decimal sum can land exactly
    on a 6-decimal rounding boundary, where JVM and other engines round the
    nearest-double differently (observed once at sf0.1) — the sum is
    boundary-free and the mean is one division away for consumers."""
    w = df.select(F.col(id_col), F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("term"))
    counts = w.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    total = counts.select(F.sum("c").alias("__tot"))
    nlp = F.round(-F.log2(F.col("c") / F.col("__tot")), 6).cast("decimal(25,6)")
    return (
        w.join(counts, "term")
        .crossJoin(F.broadcast(total))
        .withColumn("__nlp", nlp)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("__nlp").cast("double").alias("sum_neg_log2p"),
        )
    )


def word_entropy(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Per-document word-distribution entropy (bits): H = -sum over distinct
    words of (c/n)*log2(c/n) — a standard quality/repetition signal (near-0
    = degenerate repetition, high = diverse vocabulary; complements
    ``repetition_ratio`` which only looks at adjacent duplication).

    Scale shape: explode words -> ONE (doc, word) hash-aggregate with
    map-side partials -> per-doc sum; both aggregates cluster on the doc
    id, so Catalyst plans the second as a partial-free reuse of the first
    exchange. Per-term contributions are rounded to 6 decimals and summed
    through DECIMAL(25,6) (the repo-wide deterministic-float contract:
    result independent of partition count and accumulation order)."""
    w = df.select(
        F.col(id_col), F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("__w")
    )
    tc = w.groupBy(id_col, "__w").agg(F.count(F.lit(1)).alias("__c"))
    # n per doc via a window over the same doc-id clustering (no second
    # scan); entropy contribution per distinct word
    dn = Window.partitionBy(id_col)
    term = tc.withColumn("__n", F.sum("__c").over(dn))
    p = F.col("__c") / F.col("__n")
    contrib = F.round(-p * F.log2(p), 6).cast("decimal(25,6)")
    return (
        term.withColumn("__h", contrib)
        .groupBy(id_col)
        .agg(
            F.max("__n").alias("n_words"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.sum("__h").cast("double").alias("entropy_bits"),
        )
    )


def readability(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Per-document LIX readability (Björnsson's läsbarhetsindex):
    ``words/sentences + 100 * long_words/words`` with long = >6 chars —
    the standard readability formula that needs NO syllable heuristic, so
    it is exactly reproducible across engines (a cheap quality signal for
    curriculum filtering: ~20 very easy prose, ~60 technical text).

    Scale shape: pure per-row codegen'd expressions over one scan — word
    split, a regexp sentence-terminator count, and a lambda filter for
    long words; no shuffle, no UDF. Sentence count floors at 1 (headline
    fragments without terminal punctuation read as one sentence)."""
    words = F.split(F.col(text_col), " ")
    n_words = F.size(words).cast("bigint")
    n_long = F.size(F.filter(words, lambda w: F.length(w) > 6)).cast("bigint")
    n_sent = F.greatest(
        F.lit(1).cast("bigint"), F.regexp_count(F.col(text_col), F.lit(r"[.!?]"))
    )
    lix = F.round(
        n_words / n_sent + F.lit(100.0) * n_long / F.greatest(n_words, F.lit(1)), 6
    )
    return df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        n_long.alias("n_long_words"),
        n_sent.alias("n_sentences"),
        lix.alias("lix"),
    )


def corpus_source_stats(
    df: DataFrame, source_col: str = "source", text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """Per-source corpus health metrics: document count, mean token count,
    and language entropy (bits) — the dashboard aggregates a curation
    pipeline watches to catch a crawl source going bad.

    Scale shape: one hash-aggregate per metric tree — (source) for counts
    and token means, (source, lang) then (source) for the entropy — joined
    on the (tiny, one row per source) aggregated frames. Float sums go
    through DECIMAL with per-term rounding so results are independent of
    partition count (repo-wide determinism contract)."""
    toks = df.select(
        F.col(source_col).alias("source"),
        F.col(lang_col).alias("lang"),
        F.size(F.split(F.col(text_col), " ")).alias("__nt"),
    )
    base = toks.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(
            F.sum(F.col("__nt").cast("decimal(25,6)")).cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_tokens"),
    )
    lc = toks.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("__c"))
    tot = lc.groupBy("source").agg(F.sum("__c").alias("__n"))
    p = F.col("__c") / F.col("__n")
    ent = (
        lc.join(tot, "source")
        .withColumn("__term", F.round(-p * F.log2(p), 6).cast("decimal(25,6)"))
        .groupBy("source")
        .agg(F.round(F.sum("__term").cast("double"), 6).alias("lang_entropy"))
    )
    return base.join(ent, "source")


def bigram_pmi(
    df: DataFrame,
    min_count: int = 5,
    top_n: int = 100,
    text_col: str = "text",
) -> DataFrame:
    """Top collocations by pointwise mutual information: adjacent lowercase
    word pairs with ``pmi = log2(n_xy * N / (n_x * n_y))`` (N = total
    bigram tokens), filtered to ``n_xy >= min_count`` and cut to the
    ``top_n`` by (pmi desc, w1, w2). The classic phrase-mining signal
    (word2vec phrase pass, RAKE-style keyphrases) for a pretraining corpus.

    Determinism: all inputs to the log are exact integer counts; the
    expression multiplies/divides doubles in a fixed order mirrored by the
    oracle, and the final round(…, 6) + total-order LIMIT make the cut
    reproducible. Scale shape: bigrams come from a codegen
    ``transform``+``explode`` over the word array (no self-join at word
    scale); two hash aggregates (bigram counts — vocab²-bounded, unigram
    counts — vocab-bounded); the unigram side joins twice (AQE broadcasts
    it when it fits); the grand total is a 1-row broadcast crossJoin; the
    cut is TakeOrderedAndProject, never a global sort."""
    words = F.split(F.lower(F.col(text_col)), " ")
    pairs = F.transform(
        F.slice(words, 1, F.greatest(F.size(words) - 1, F.lit(0))),
        lambda x, i: F.struct(x.alias("w1"), F.get(words, i + 1).alias("w2")),
    )
    from .dedup import _spread

    # _spread before the corpus-scale explode (round 10, guide §2.5): a
    # single-split scan otherwise runs the explode + partial aggregate on
    # one task; at real scale the scan has many splits and this is a no-op
    bi = (
        _spread(df.select(text_col)).select(F.explode(pairs).alias("b"))
        .select(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_xy"))
    )
    uni = (
        df.select(F.explode(words).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    total = bi.agg(F.sum("n_xy").alias("__N"))
    scored = (
        bi.filter(F.col("n_xy") >= min_count)
        .join(uni.select(F.col("w").alias("w1"), F.col("c").alias("__cx")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("__cy")), "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1",
            "w2",
            "n_xy",
            F.round(
                F.log2(
                    (F.col("n_xy").cast("double") * F.col("__N").cast("double"))
                    / (F.col("__cx").cast("double") * F.col("__cy").cast("double"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), "w1", "w2").limit(top_n)


def _textrank_fused_fn(damping: float, n_iter: int, edge_limit: int):
    """One-task PageRank loop over the pruned bigram edge table — the
    optimization-round replacement for the driver-sequenced per-iteration
    join/checkpoint jobs (guide §1.2: fix the distributed algorithm first;
    §4.2: whole batches through numpy).

    Bit-exact replication of the distributed loop's determinism contract:

    - Spark's ``round(x, 12)`` on a double is
      ``BigDecimal.valueOf(x).setScale(12, HALF_UP)`` — HALF_UP applied to
      the SHORTEST decimal representation of x (``Double.toString`` ==
      Python ``repr``). Vectorized here as ``floor(x*1e12 + 0.5)`` with an
      exact ``Decimal(repr(x))`` slow path for the ~1e-3 fraction of
      elements whose scaled fractional part lies within 1e-3 of .5 (the
      float error budget of the scaling is < 5e-4, so every element
      outside that band provably rounds identically; all values are
      non-negative, so HALF_UP == floor(x+0.5)).
    - The per-edge contributions are exact multiples of 1e-12; the
      distributed loop sums them through DECIMAL(38,12). Summing their
      int64 1e-12-unit representation is the same exact sum, and
      ``units.astype(float64)/1e12`` is one correctly-rounded division of
      two exactly-representable values — identical to Spark's
      decimal→double cast (``BigDecimal.doubleValue``).
    - All remaining arithmetic (``(r*n_xy)/wout``, ``teleport + d*s``) is
      element-wise IEEE float64 in the same evaluation order as the
      Catalyst expressions.
    """

    def run(batches):
        import numpy as np
        import pandas as pd
        from decimal import ROUND_HALF_UP, Decimal

        q12 = Decimal("1e-12")

        def round12_units(x):
            """int64 units of 1e-12 for round(x, 12), Spark-exact."""
            y = x * 1e12
            f = np.floor(y + 0.5)
            frac = y - np.floor(y)
            amb = np.abs(frac - 0.5) < 1e-3
            if amb.any():
                for i in np.flatnonzero(amb):
                    f[i] = float(
                        Decimal(repr(float(x[i]))).quantize(
                            q12, rounding=ROUND_HALF_UP
                        )
                        * 10**12
                    )
            return f.astype(np.int64)

        frames = []
        n_rows = 0
        for b in batches:
            if not len(b):
                continue
            n_rows += len(b)
            if n_rows > edge_limit:
                # size guard (round 11): abort before buffering an edge
                # table beyond one task's memory — stop consuming, emit
                # the overflow sentinel, let the driver re-route to the
                # distributed loop
                yield pd.DataFrame(
                    {"w": [None], "r": [None], "__overflow": [True]}
                )
                return
            frames.append(b)
        if not frames:
            return
        e = pd.concat(frames, ignore_index=True) if len(frames) > 1 else frames[0]
        codes, words = pd.factorize(
            np.concatenate([e["w1"].to_numpy(), e["w2"].to_numpy()])
        )
        n_edges = len(e)
        src, dst = codes[:n_edges], codes[n_edges:]
        n = len(words)
        nxy = e["n_xy"].to_numpy(np.int64)
        # wout per source node: exact int64 segment sums (Spark: SUM(bigint))
        order_s = np.argsort(src, kind="stable")
        src_s = src[order_s]
        starts_s = np.flatnonzero(np.r_[True, src_s[1:] != src_s[:-1]])
        wout = np.zeros(n, dtype=np.float64)
        wout[src_s[starts_s]] = np.add.reduceat(nxy[order_s], starts_s).astype(
            np.float64
        )
        # edges sorted by destination once; reduceat segments reused per iter
        order_d = np.argsort(dst, kind="stable")
        dst_d = dst[order_d]
        starts_d = np.flatnonzero(np.r_[True, dst_d[1:] != dst_d[:-1]])
        seg_nodes = dst_d[starts_d]
        src_d = src[order_d]
        nxy_d = nxy[order_d].astype(np.float64)
        wout_d = wout[src_d]
        teleport = (1.0 - damping) / float(n)
        r = round12_units(np.full(n, 1.0 / float(n))).astype(np.float64) / 1e12
        for _ in range(n_iter):
            c = (r[src_d] * nxy_d) / wout_d
            units = round12_units(c)
            s = np.zeros(n, dtype=np.float64)
            s[seg_nodes] = np.add.reduceat(units, starts_d).astype(np.float64) / 1e12
            r = round12_units(teleport + damping * s).astype(np.float64) / 1e12
        yield pd.DataFrame({"w": words, "r": r, "__overflow": False})

    return run


# Size guard for the fused single-task PageRank loop (round 11, VERDICT
# r10 item 4): above this many pruned bigram EDGES textrank_keywords falls
# back to the distributed per-iteration loop. One task holds the edge
# table plus a handful of transient arrays over |vocab| nodes and |E|
# edges (~100 B/edge with two short word strings): 5M edges ≈ 0.5-1 GB —
# far above any min_count>=5-pruned natural-language bigram graph, but a
# hard stop before a pathological corpus funnels an unbounded table
# through repartition(1).
FUSED_TEXTRANK_EDGE_LIMIT = 5_000_000


def textrank_keywords(
    df: DataFrame,
    damping: float = 0.85,
    n_iter: int = 10,
    min_count: int = 5,
    top_n: int = 50,
    text_col: str = "text",
) -> DataFrame:
    """Corpus keywords by TextRank: PageRank over the directed bigram
    co-occurrence graph (edge u→v weighted by adjacency count, edges below
    ``min_count`` pruned), ``n_iter`` fixed synchronous iterations,
    rank(v) = (1-d)/N + d·Σ_u rank(u)·w(u,v)/wout(u). Dangling nodes leak
    rank (documented variant — no redistribution), ties break on the word.

    Determinism contract (what makes an ITERATIVE float algorithm
    oracle-checkable at all): every per-edge contribution is rounded to 12
    decimals and summed through DECIMAL(38,12); each iteration's rank is
    re-rounded to 12 decimals; the teleport term is computed as
    ``(1.0 - d)/N`` in doubles on both engines. With identical inputs each
    iteration is then bit-identical in any engine and any partitioning —
    the DuckDB oracle unrolls the same 10 iterations as chained CTEs.

    Scale shape: ONE distributed pass builds the pruned bigram edge table
    (the only corpus-scale work — explode + hash aggregate), then the whole
    ``n_iter``-round loop runs in a single Arrow task over that edge table
    (vocab²-bounded after the min_count cut; the distributed loop already
    assumed the |vocab| rank table broadcasts, and a pruned n_xy>=5 bigram
    graph is orders of magnitude below task memory at any corpus size —
    numbers in OPTIMIZATION_r10.md). That replaces ~2 jobs x n_iter of
    driver-sequenced join/aggregate/localCheckpoint rounds with one job and
    no driver action at all. Results are bit-identical (see
    ``_textrank_fused_fn``). The fused engine is size-guarded (round 11):
    the task aborts past ``FUSED_TEXTRANK_EDGE_LIMIT`` arriving edges
    with an ``__overflow`` sentinel (bounding its memory and read volume)
    and the call re-routes to the distributed per-iteration loop for
    graphs too large for one task: each iteration is one edge⋈ranks join
    (ranks = |vocab| rows — AQE broadcasts it), a hash aggregate onto the in-neighbor key, and a left
    join back to the node list; ranks are localCheckpointed per round so
    the loop's lineage stays flat (same pattern as dedup_clusters' label
    propagation). Only the scalar node count touches the driver."""
    words = F.split(F.lower(F.col(text_col)), " ")
    pairs = F.transform(
        F.slice(words, 1, F.greatest(F.size(words) - 1, F.lit(0))),
        lambda x, i: F.struct(x.alias("w1"), F.get(words, i + 1).alias("w2")),
    )
    from .dedup import _spread

    # _spread before the corpus-scale explode (round 10, guide §2.5): a
    # single-split scan otherwise runs the explode + partial aggregate on
    # one task; at real scale the scan has many splits and this is a no-op
    bi = (
        _spread(df.select(text_col)).select(F.explode(pairs).alias("b"))
        .select(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_xy"))
        .filter(F.col("n_xy") >= min_count)
    )
    # size guard (round 11, VERDICT r10 item 4): the fused task aborts
    # past FUSED_TEXTRANK_EDGE_LIMIT arriving edges with an __overflow
    # sentinel (it stops consuming and never buffers the over-limit
    # table); the driver probes the one-row flag off the checkpointed
    # result and re-routes to the distributed loop. In the common case the
    # count rides rows the task read anyway — the only added cost is the
    # probe's checkpoint scan.
    ranks = bi.repartition(1).mapInPandas(
        _textrank_fused_fn(damping, n_iter, FUSED_TEXTRANK_EDGE_LIMIT),
        "w string, r double, __overflow boolean",
    ).localCheckpoint(eager=True)
    probe = ranks.select("__overflow").first()
    if probe is None or not probe["__overflow"]:
        return (
            ranks.orderBy(F.desc("r"), "w")
            .limit(top_n)
            .select(F.col("w").alias("word"), F.col("r").alias("score"))
        )
    nodes = (
        bi.select(F.col("w1").alias("w"))
        .union(bi.select(F.col("w2").alias("w")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    if n == 0:
        return nodes.select(
            F.col("w").alias("word"), F.lit(0.0).alias("score")
        ).limit(0)
    outw = bi.groupBy("w1").agg(F.sum("n_xy").alias("wout"))
    edges = bi.join(outw, "w1").localCheckpoint()
    teleport = F.lit(1.0 - damping) / F.lit(float(n))
    ranks = nodes.select(
        "w", F.round(F.lit(1.0) / F.lit(float(n)), 12).alias("r")
    )
    for _ in range(n_iter):
        contrib = (
            edges.join(ranks.withColumnRenamed("w", "w1"), "w1")
            .select(
                F.col("w2").alias("w"),
                F.round(F.col("r") * F.col("n_xy") / F.col("wout"), 12)
                .cast("decimal(38,12)")
                .alias("c"),
            )
            .groupBy("w")
            .agg(F.sum("c").cast("double").alias("s"))
        )
        ranks = (
            nodes.join(contrib, "w", "left")
            .select(
                "w",
                F.round(
                    teleport
                    + F.lit(float(damping)) * F.coalesce(F.col("s"), F.lit(0.0)),
                    12,
                ).alias("r"),
            )
            .localCheckpoint()
        )
    return (
        ranks.orderBy(F.desc("r"), "w")
        .limit(top_n)
        .select(F.col("w").alias("word"), F.col("r").alias("score"))
    )


def source_rollup(
    df: DataFrame,
    source_col: str = "source",
    lang_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Hierarchical corpus totals via ROLLUP(source, lang): one row per
    (source, lang) cell, per-source subtotal, and grand total, with doc and
    whitespace-token counts. ``lvl`` is the grouping id (0 = leaf cell,
    1 = source subtotal, 3 = grand total); rolled-up dimension values read
    ``(all)``.

    Scale shape: Catalyst lowers ROLLUP to ONE expand + hash-aggregate pass
    (each input row contributes to its 3 grouping sets in the same stage) —
    vs the 3 scans + union a naive subtotal query costs. Token counting is
    a codegen ``size(split(...))``; nothing but the k-cell result leaves
    the aggregation."""
    toks = df.select(
        F.col(source_col).alias("source"),
        F.col(lang_col).alias("lang"),
        F.size(F.split(F.col(text_col), " ")).cast("bigint").alias("__nt"),
    )
    return (
        toks.rollup("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__nt").alias("n_tokens"),
            F.grouping_id().cast("int").alias("lvl"),
        )
        .select(
            F.coalesce(F.col("source"), F.lit("(all)")).alias("source"),
            F.coalesce(F.col("lang"), F.lit("(all)")).alias("lang"),
            "n_docs",
            "n_tokens",
            "lvl",
        )
    )


def classifier_score(
    df: DataFrame,
    weights: DataFrame | None = None,
    dim: int = 1024,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Hashed bag-of-words linear classifier score (the fasttext-style
    quality-classifier shape used to filter pretraining corpora): each word
    hashes to one of ``dim`` buckets, bucket weights are summed, averaged
    over the word count, and squashed with a sigmoid.

    Two execution paths, same semantics:

    - ``weights=None`` (default): bucket weights derive deterministically
      from ``md5`` of the bucket id — ZERO shuffles: the whole score is one
      ``aggregate`` fold over the word array inside a single projection
      (words never leave their partition). The weights are a pseudo-random
      stand-in with the exact production plan shape.
    - ``weights`` = a (bucket, weight) DataFrame (a trained model): explode
      words -> broadcast-join the (tiny) weight table -> one hash aggregate
      per doc. The weight table is broadcast, so the only shuffle is the
      per-doc sum.

    Returns (id_col, n_words, score) with score = round(sigmoid(mean bucket
    weight), 6), deterministic in both paths (left-to-right fold order).
    """
    words = F.split(F.lower(F.col(text_col)), " ")
    if weights is None:
        # bucket(word) = first 8 md5 hex digits mod dim;
        # weight(b) = uniform01(md5('w:' || b)) - 0.5  (in [-0.5, 0.5))
        wexpr = (
            f"aggregate(split(lower({text_col}), ' '), CAST(0.0 AS DOUBLE), "
            "(acc, w) -> acc + ("
            "CAST(conv(substring(md5(concat('w:', CAST("
            f"pmod(CAST(conv(substring(md5(w), 1, 8), 16, 10) AS BIGINT), {dim}) "
            "AS STRING))), 1, 8), 16, 10) AS DOUBLE)"
            " / 4294967296.0 - 0.5))"
        )
        return df.select(
            F.col(id_col),
            F.size(words).cast("bigint").alias("n_words"),
            F.round(
                F.lit(1.0)
                / (F.lit(1.0) + F.exp(-(F.expr(wexpr) / F.size(words)))),
                6,
            ).alias("score"),
        )
    ex = df.select(F.col(id_col), F.explode(words).alias("__w"))
    ex = ex.withColumn(
        "__b", F.pmod(F.conv(F.substring(F.md5("__w"), 1, 8), 16, 10).cast("bigint"), F.lit(dim))
    )
    joined = ex.join(F.broadcast(weights.withColumnRenamed("bucket", "__b")), "__b", "left")
    sums = joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(F.coalesce(F.col("weight"), F.lit(0.0))).alias("__s"),
    )
    return sums.select(
        F.col(id_col),
        F.col("n_words").cast("bigint").alias("n_words"),
        F.round(
            F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.col("__s") / F.col("n_words")))), 6
        ).alias("score"),
    )


def length_percentiles(
    df: DataFrame, by: str = "source", text_col: str = "text",
    ps: tuple = (0.25, 0.5, 0.9, 0.99),
) -> DataFrame:
    """Exact token-length percentiles per group — corpus health / curriculum
    design ("how long are documents from each source?"). Emits n_docs plus
    one p<NN> column per requested percentile (PERCENTILE_CONT linear
    interpolation — matches DuckDB quantile_cont exactly).

    Scale: Spark's exact ``percentile`` aggregate keeps a value->count map
    per group; token lengths are small integers so per-group state is
    bounded by the distinct-length count (thousands), NOT the row count —
    safe at any corpus size as long as the group count (sources) is not
    pathological. Partial aggregation still applies map-side."""
    n = F.size(F.split(F.col(text_col), " "))
    q = df.select(F.col(by), n.alias("__n")).groupBy(by).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.percentile("__n", F.array(*[F.lit(float(p)) for p in ps])).alias("__q"),
    )
    cols = [F.col(by), F.col("n_docs")] + [
        F.round(F.col("__q")[i], 6).alias(f"p{int(round(p * 100))}")
        for i, p in enumerate(ps)
    ]
    return q.select(*cols)


def dedup_stats(
    df: DataFrame, by: str = "source", text_col: str = "text",
) -> DataFrame:
    """Per-group duplication health report: docs, distinct contents, and the
    duplication rate — the first number a corpus owner asks for before
    deciding which dedup stage to run. Exact distinct via content hash
    (two-phase hash agg, one shuffle on (group, hash) then one on group —
    the standard exact-distinct plan, partial-agg'd both times)."""
    h = F.md5(F.col(text_col))
    return (
        df.select(F.col(by), h.alias("__h"))
        .groupBy(by)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("__h").alias("n_unique"),
        )
        .withColumn(
            "dup_rate",
            F.round(1 - F.col("n_unique") / F.col("n_docs"), 6),
        )
    )


def zipf_table(
    df: DataFrame, text_col: str = "text", top_n: int = 200,
) -> DataFrame:
    """Corpus rank-frequency table (the Zipf curve): the ``top_n`` most
    frequent words with their 1-based rank and log10 coordinates — the
    standard corpus-health artifact (a natural corpus tracks
    log f ~ -log r; template/boilerplate contamination shows up as a
    flattened head, degenerate generation as a cliff). Ties rank
    deterministically by (count desc, word asc).

    Scale shape: one (word) hash aggregate with map-side partials, then
    TakeOrderedAndProject for the top-n — no global sort, no second
    shuffle; only ``top_n`` rows leave the aggregation. Log coordinates
    are per-row arithmetic on exact bigint counts, so both engines round
    the same doubles."""
    counts = (
        # no _spread here (round 10, measured): the split+explode+count of
        # this shape runs ~0.2s on one task at bench scale; the round-robin
        # exchange of the full text payload costs more than it saves
        df.select(F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("term").asc())
        .limit(int(top_n))
    )
    w = Window.orderBy(F.col("freq").desc(), F.col("term").asc())
    return counts.select(
        F.row_number().over(w).alias("rank"),
        "term",
        "freq",
    ).select(
        "rank", "term", "freq",
        F.round(F.log10("rank"), 6).alias("log_rank"),
        F.round(F.log10("freq"), 6).alias("log_freq"),
    )


def inverted_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    postings_cap: int = 20,
    max_df: int | None = None,
) -> DataFrame:
    """Corpus inverted index: one row per term with document frequency,
    total term frequency, and a bounded posting list (the ``postings_cap``
    LOWEST doc ids, comma-joined — capped so a viral term cannot blow up a
    single output row). The retrieval-side companion of ``tfidf_top_terms``;
    with ``max_df`` set, stopword-scale terms (df > max_df) drop out
    entirely, the standard IR guard that also removes the one skew risk at
    100 TB (a billion-doc stopword otherwise sorts inside one task).

    Scale shape: (term, doc) hash-aggregate, then ONE term-keyed exchange
    whose partition-local sort serves row_number AND the full-frame df/tf
    aggregates; the final per-term groupBy reuses that clustering
    (Catalyst plans no further exchange). Posting arrays are ≤cap elements
    by construction before any collect_list runs."""
    # no _spread here (round 10, measured): see zipf_table — the exchange
    # costs more than the light single-task explode saves
    w = df.select(
        F.col(id_col), F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("__t")
    )
    tc = w.groupBy("__t", id_col).agg(F.count(F.lit(1)).alias("__tfd"))
    ws = Window.partitionBy("__t").orderBy(id_col)
    full = ws.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = tc.select(
        "__t",
        F.col(id_col),
        F.row_number().over(ws).alias("__rn"),
        F.count(F.lit(1)).over(full).alias("__df"),
        F.sum("__tfd").over(full).alias("__tf"),
    ).filter(F.col("__rn") <= postings_cap)
    if max_df is not None:
        ranked = ranked.filter(F.col("__df") <= max_df)
    return ranked.groupBy(F.col("__t").alias("term")).agg(
        F.max("__df").alias("df"),
        F.max("__tf").alias("tf"),
        F.concat_ws(",", F.sort_array(F.collect_list(id_col))).alias("postings"),
    )


def source_kl(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-source KL divergence (bits) of the source's unigram distribution
    from the corpus distribution — the standard domain-shift / outlier-source
    signal when curating a multi-source corpus (high KL = the source's
    vocabulary differs sharply from the blend; pairs with
    ``mixture_weights`` and ``dsir_weights``).

    KL(s‖c) = Σ_w p_s(w)·log2(p_s(w)/p_c(w)) over the source's words (p_c
    is never 0 where p_s > 0, so no smoothing is needed). Per-term
    contributions round to 12 decimals and sum through DECIMAL(38,12)
    (repo-wide deterministic-decimal contract).

    Scale shape: ONE corpus-scale hash aggregate onto the (source, word)
    count table; everything after (word totals, source totals, the KL sum)
    re-aggregates that ≤|sources|×|vocab| frame, with the word-marginal
    join planned broadcast-side at vocab scale."""
    sw = (
        # no _spread here (round 10, measured): see zipf_table — the
        # exchange costs more than the light single-task explode saves
        df.select(
            F.col(group_col).alias("source"),
            F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("__w"),
        )
        .groupBy("source", "__w")
        .agg(F.count(F.lit(1)).alias("__c"))
        # truncate lineage so the word-marginal / total branches re-aggregate
        # the |sources|x|vocab| table instead of re-running the corpus-scale
        # explode+shuffle (same pattern as the LSH signature checkpoint)
        .localCheckpoint(eager=False)
    )
    wg = Window.partitionBy("source")
    cw = sw.groupBy("__w").agg(F.sum("__c").alias("__cw"))
    tot = sw.agg(F.sum("__c").alias("__n"))
    term = (
        sw.withColumn("__ng", F.sum("__c").over(wg))
        .join(cw, "__w")
        .crossJoin(F.broadcast(tot))
    )
    ps = F.col("__c") / F.col("__ng")
    pc = F.col("__cw") / F.col("__n")
    contrib = F.round(ps * (F.log2(ps) - F.log2(pc)), 12).cast("decimal(38,12)")
    return (
        term.withColumn("__kl", contrib)
        .groupBy("source")
        .agg(
            F.max("__ng").alias("n_words"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.round(F.sum("__kl").cast("double"), 6).alias("kl_bits"),
        )
    )


def dataset_card(
    df: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
    source_col: str = "source",
) -> DataFrame:
    """One-row corpus summary — the numbers a dataset card publishes:
    doc/token/char totals, exact-duplicate rate (md5 text identity),
    source/language cardinalities, the dominant language with its share,
    and exact token-length percentiles. The one-call companion of
    ``source_stats``/``dedup_stats`` when the report is per-corpus, not
    per-source.

    Scale shape: ONE corpus pass builds a checkpointed narrow projection
    (lang, source, token count, char count, text hash); the main aggregate
    (counts, sums, distincts, interpolated percentiles) and the tiny
    language-count table both re-read it, and the 1-row top-language pick
    broadcasts back. Nothing document-scale shuffles except the two-phase
    distinct counts. Determinism: shares/percentiles round to 6; the
    top-language tie breaks to the lexicographically smallest language."""
    words = F.size(F.split(F.lower(F.col(text_col)), " "))
    base = (
        df.select(
            F.col(lang_col).alias("__lang"),
            F.col(source_col).alias("__src"),
            words.alias("__nw"),
            F.length(text_col).alias("__nc"),
            F.md5(F.col(text_col)).alias("__h"),
        )
        .localCheckpoint(eager=False)
    )
    main = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__nw").cast("bigint").alias("n_tokens"),
        F.sum("__nc").cast("bigint").alias("n_chars"),
        F.count_distinct("__h").alias("n_distinct_texts"),
        F.count_distinct("__src").alias("n_sources"),
        F.count_distinct("__lang").alias("n_langs"),
        F.round(F.percentile(F.col("__nw").cast("double"), F.lit(0.5)), 6).alias(
            "p50_tokens"
        ),
        F.round(F.percentile(F.col("__nw").cast("double"), F.lit(0.9)), 6).alias(
            "p90_tokens"
        ),
    )
    # TakeOrdered top-1 over the vocab-scale lang table: on an EMPTY corpus
    # this yields 0 rows, so the final cross join emits 0 rows — matching
    # the DuckDB oracle (a global agg would emit one all-NULL garbage row)
    top = (
        base.groupBy("__lang")
        .agg(F.count(F.lit(1)).alias("__topn"))
        .orderBy(F.col("__topn").desc(), F.col("__lang").asc())
        .limit(1)
        .select(F.col("__lang").alias("top_lang"), F.col("__topn"))
    )
    return main.crossJoin(F.broadcast(top)).select(
        "n_docs",
        "n_tokens",
        "n_chars",
        "n_distinct_texts",
        F.round(
            F.lit(1.0) - F.col("n_distinct_texts") / F.col("n_docs").cast("double"), 6
        ).alias("dup_rate"),
        "n_sources",
        "n_langs",
        "top_lang",
        F.round(F.col("__topn") / F.col("n_docs").cast("double"), 6).alias(
            "top_lang_share"
        ),
        "p50_tokens",
        "p90_tokens",
    )
