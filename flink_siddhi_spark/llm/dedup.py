"""Deduplication operators: exact, n-gram Jaccard, MinHash(+LSH), SimHash,
embedding-cosine near-dup.

Scale design (the point of these at 100 TB):
- exact dedup: one hash-aggregate on md5(text) — a single shuffle on a short
  key, map-side partial aggregation.
- n-gram Jaccard: explode distinct shingles -> self-equi-join on shingle ->
  pair-count aggregate. The join key is the shingle hash, so co-occurring
  docs meet without a cross join. (Pre-LSH, this is the exact verifier.)
- MinHash + LSH: per-doc signature = k independent min-hashes (array ops, no
  explode); banding buckets candidate pairs so the join is |bucket|-bounded
  instead of O(n^2) — the standard web-scale near-dup pipeline shape.
- SimHash: frequency-weighted bitwise majority of word hashes; near-dups =
  equal fingerprints (or small hamming distance via band rotation).
- embedding cosine: exact pair threshold (quadratic — the ANN/LSH variant in
  llm/similarity.py is the scale path).

Everything is Catalyst higher-order-function expressions; md5 is used as the
hash family (deterministic across engines for oracle checking).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..schema import sql_ident

ODD_HEX = ("1", "3", "5", "7", "9", "b", "d", "f")


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition to cluster parallelism before heavy per-row
    compute. Small parquet inputs arrive as 1 split; hash pipelines (8x md5
    per shingle) would otherwise run single-threaded. At real scale the scan
    already yields many splits and this is a near-no-op."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per distinct content hash: canonical (min) id + duplicate count."""
    h = F.md5(F.col(text_col))
    return (
        df.select(F.col(id_col), h.alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def word_shingles(text_col: str = "text", n: int = 3) -> Column:
    """Distinct word n-gram shingles of lower(text) as an array column."""
    words = F.split(F.lower(F.col(text_col)), " ")
    return F.when(F.size(words) < n, F.array().cast("array<string>")).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(words) - n),
                lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
            )
        )
    )


def shingle_table(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  n: int = 3) -> DataFrame:
    return df.select(F.col(id_col), F.explode(word_shingles(text_col, n)).alias("shingle"))


def ngram_jaccard_pairs(
    df: DataFrame, threshold: float = 0.8, text_col: str = "text",
    id_col: str = "doc_id", n: int = 3,
) -> DataFrame:
    """Doc pairs with shingle-set Jaccard >= threshold (exact, join-based)."""
    sh = shingle_table(_spread(df.select(id_col, text_col)), text_col, id_col, n)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("nb"))
    out = (
        common.join(sa, "id_a").join(sb, "id_b")
        .withColumn("jaccard", F.round(F.col("common") / (F.col("na") + F.col("nb") - F.col("common")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def repeated_ngram_spans(
    df: DataFrame,
    n: int = 8,
    min_repeats: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Maximal duplicated word-span regions per document: every word n-gram
    occurring >= ``min_repeats`` times anywhere in the corpus (other docs OR
    the same doc) marks its position duplicated; overlapping/abutting
    duplicated grams merge into maximal spans (exact substring dedup a la
    Lee et al. 2022, at word rather than byte granularity).

    Output: one row per maximal span — ``doc_id, start_word, end_word``
    (0-based, inclusive), ``n_words``, ``n_grams``.

    Scale shape (all linear in corpus word count): gram instances carry an
    md5 key; occurrence counts come from a count-over-gram-hash window (ONE
    shuffle of the instance table — no second exchange for a join back);
    survivors repartition once onto the doc key, where the island merge
    (lag + running sum) and the span aggregate share the same partitioning.
    A boilerplate gram that floods one hash partition is the skew risk; at
    extreme df, pre-aggregating counts and broadcasting the viral set would
    be the salting path (same treatment as minhash_lsh_pairs' autocap).
    """
    if n < 1 or min_repeats < 2:
        raise ValueError("need n >= 1 and min_repeats >= 2")
    words = F.split(F.lower(F.col(text_col)), " ")
    grams = F.when(F.size(words) < n, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size(words) - n),
            lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
        )
    )
    gi = _spread(df.select(id_col, text_col)).select(
        F.col(id_col), F.posexplode(grams).alias("pos", "__g")
    ).select(id_col, "pos", F.md5(F.col("__g")).alias("__gh"))
    hits = (
        gi.withColumn("__cnt", F.count(F.lit(1)).over(Window.partitionBy("__gh")))
        .filter(F.col("__cnt") >= min_repeats)
        .select(id_col, "pos")
    )
    w_doc = Window.partitionBy(id_col).orderBy("pos")
    # new island when this gram's start is past the previous gram's covered
    # range +1 (gram at p covers words [p, p+n-1]; p' <= p+n overlaps/abuts)
    brk = F.when(F.col("pos") - F.lag("pos").over(w_doc) > n, 1).otherwise(0)
    islands = hits.withColumn("__brk", brk).withColumn(
        "__island", F.sum("__brk").over(w_doc)
    )
    return (
        islands.groupBy(id_col, "__island")
        .agg(
            F.min("pos").cast("bigint").alias("start_word"),
            (F.max("pos") + n - 1).cast("bigint").alias("end_word"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .select(
            id_col,
            "start_word",
            "end_word",
            (F.col("end_word") - F.col("start_word") + 1).alias("n_words"),
            "n_grams",
        )
        .orderBy(id_col, "start_word")
    )


def minhash_signatures(
    df: DataFrame, num_hashes: int = 8, text_col: str = "text",
    id_col: str = "doc_id", n: int = 3,
) -> DataFrame:
    """MinHash signature columns sig_0..sig_{k-1}.

    Hash family: 8-hex-digit chunks of md5(shingle) and md5('x:'+shingle) —
    two md5 calls yield eight 32-bit hashes per shingle; the signature is the
    lexicographic min chunk over the shingle set (engine-portable: plain
    substring + min).

    Shape: explode shingles -> top-level md5/substring (whole-stage codegen —
    hashing inside array higher-order lambdas runs on the interpreted path,
    ~10x slower) -> groupBy(doc).min. The min makes shingle de-duplication
    unnecessary, and partial aggregation shuffles only 8 short strings per
    doc per map partition."""
    if num_hashes > 8:
        raise ValueError("minhash_signatures supports up to 8 hashes (2 md5 x 4 chunks)")
    words = f"split(lower({sql_ident(text_col)}), ' ')"
    sh_arr = (
        f"transform(sequence(0, size({words}) - {n}), "
        f"__i -> concat_ws(' ', slice({words}, __i + 1, {n})))"
    )
    # explode_outer + null array keeps shingle-less docs (null signatures);
    # the plan is SQL text: one parse per step, not a py4j trip per Column
    ex = _spread(df.select(id_col, text_col)).selectExpr(
        sql_ident(id_col),
        f"explode_outer(CASE WHEN size({words}) >= {n} THEN {sh_arr} END) AS __s",
    )
    hashes = ("md5(__s)", "md5(concat('x:', __s))")
    return ex.groupBy(id_col).agg(*[
        F.expr(f"min(substring({hashes[j // 4]}, {(j % 4) * 8 + 1}, 8)) AS sig_{j}")
        for j in range(num_hashes)
    ])


def minhash_lsh_pairs(
    df: DataFrame, num_hashes: int = 8, bands: int = 4, threshold: float = 0.5,
    text_col: str = "text", id_col: str = "doc_id", n: int = 3,
    max_bucket: Optional[int] = None, auto_cap: bool = True,
) -> DataFrame:
    """Candidate pairs via LSH banding, scored by signature agreement.

    rows-per-band = num_hashes // bands; docs sharing any band bucket become
    candidates; estimated Jaccard = fraction of matching signature slots.

    ``max_bucket``: degenerate buckets (mass-duplicated content — one viral
    page can put millions of docs in one bucket) expand O(m^2) on a single
    task. Buckets larger than ``max_bucket`` instead emit only the star
    pairs (min-id member, other) — O(m) — which ``dedup_clusters`` recovers
    transitively. Default None keeps exact all-pairs output — except above
    ``DENSE_PAIR_AUTOCAP_LIMIT`` corpus rows, where ``auto_cap`` applies
    ``LSH_AUTOCAP_BUCKET`` with a warning (``auto_cap=False`` opts out)."""
    if (
        auto_cap
        and max_bucket is None
        and _autocap_triggered(df.select(id_col), "minhash_lsh_pairs")
    ):
        max_bucket = LSH_AUTOCAP_BUCKET
    sig = minhash_signatures(df, num_hashes, text_col, id_col, n)
    # materialize signatures ONCE: the banded self-join references the
    # signature table on both sides, and without this the shingle-explode
    # md5 pipeline (the expensive part) would execute twice
    sig = sig.localCheckpoint(eager=False)
    # candidates come from a banded self-EQUI-join on the band key — the
    # same shape as simhash_hamming_pairs: hash shuffle on the bucket key,
    # per-candidate scoring as 8 codegen'd column comparisons. (An earlier
    # implementation grouped each bucket into ONE collect_list array and
    # expanded pairs with array lambdas — measured ~2x slower at high
    # duplicate density because the expansion runs on the interpreted
    # expression path, and a viral bucket materializes as a single in-memory
    # array, a memory cliff the join shape does not have.)
    ex = _lsh_banded(sig, id_col, num_hashes, bands)
    cond = "a.b = b.b AND a.id < b.id"
    if max_bucket is not None:
        # per-(band, bucket) size + min id: oversize buckets keep only the
        # star pairs anchored at the min-id member — O(m), not O(m^2)
        stats = ex.groupBy("b").agg(
            F.expr("count(1) AS __bn"), F.expr("min(id) AS __bmin")
        )
        ex = ex.join(stats, "b")
        cond += f" AND (a.__bn <= {max_bucket} OR a.id = a.__bmin)"
    # score BEFORE dropDuplicates: the agreement filter is cheap codegen and
    # shrinks the dedup shuffle from |candidates| to |true pairs|
    return (
        ex.alias("a").join(ex.alias("b"), F.expr(cond))
        .selectExpr(
            "a.id AS id_a", "b.id AS id_b",
            _est_jaccard_sql(num_hashes),
        )
        .filter(f"est_jaccard >= {float(threshold)!r}D")
        .dropDuplicates(["id_a", "id_b"])
    )


def _lsh_banded(sig: DataFrame, id_col: str, num_hashes: int,
                bands: int) -> DataFrame:
    """(id, sig_0..sig_{k-1}, b): one row per (doc, band) of a
    ``minhash_signatures`` table, the ONE banding every LSH path joins on.

    The 8-hex-char sig strings become bigints via conv(sig,16,10) —
    fixed-width lowercase hex is order- and equality-isomorphic to its
    numeric value, so the agreement count (and est_jaccard) is unchanged
    while each shuffled sig cell drops from ~20 B (string) to 8 B. The
    band key ``b`` is a struct of the band index and the band's narrowed
    sig VALUES: bucket equality is EXACT tuple equality (a hash over the
    hex concat merely approximates it) at ~16-24 B a key, and no row
    pays a per-band hash. Shingle-less docs (null signatures) get no
    rows: a struct of nulls is a valid join key that would pair them
    with each other."""
    rpb = num_hashes // bands
    sig_cols = [f"sig_{j}" for j in range(num_hashes)]
    return (
        sig.filter(F.col("sig_0").isNotNull())
        .selectExpr(
            f"{sql_ident(id_col)} AS id",
            *[f"{_sig_bigint(c)} AS {c}" for c in sig_cols],
        )
        .selectExpr(
            "id", *sig_cols,
            f"explode(array({', '.join(_band_keys(sig_cols, bands, rpb))})) AS b",
        )
    )


def _sig_bigint(sig: str) -> str:
    """SQL: an 8-hex-char MinHash slot as the bigint of the same value."""
    return f"CAST(conv({sig}, 16, 10) AS BIGINT)"


def _band_keys(sigs: list, bands: int, rpb: int) -> list:
    """SQL band keys over bigint signature slots ``sigs``: band ``b`` is
    ``named_struct('band', b, 'k0', sig, ...)`` over its ``rpb`` slots."""
    return [
        f"named_struct('band', {b}, "
        + ", ".join(f"'k{i}', {sigs[b * rpb + i]}" for i in range(rpb))
        + ")"
        for b in range(bands)
    ]


def _est_jaccard_sql(num_hashes: int) -> str:
    """SQL: the fraction of agreeing signature slots between join sides
    ``a`` and ``b``, rounded to 6 decimals, as ``est_jaccard``."""
    matches = " + ".join(
        f"CASE WHEN a.sig_{j} = b.sig_{j} THEN 1 ELSE 0 END"
        for j in range(num_hashes)
    )
    return f"round(({matches}) / {float(num_hashes)!r}D, 6) AS est_jaccard"


def simhash(df: DataFrame, bits: int = 16, text_col: str = "text",
            id_col: str = "doc_id") -> DataFrame:
    """Frequency-weighted SimHash fingerprint over word hashes.

    Bit i of the fingerprint = majority vote of hex-digit parity i of
    md5(word) across all words (+1/-1 sum > 0). ``bits`` <= 32 hex digits.

    Shape: explode words -> ONE top-level md5 per word occurrence (whole-stage
    codegen) -> per-doc partial-aggregated vote sums; hashing each word
    `bits` times inside interpreted array lambdas would be ~10x slower."""
    words = F.split(F.lower(F.col(text_col)), " ")
    ex = _spread(df.select(id_col, text_col)).select(
        F.col(id_col), F.explode(words).alias("__word")
    )
    h = F.md5(F.col("__word"))
    votes = [
        F.sum(
            F.when(F.substring(h, i + 1, 1).isin(*ODD_HEX), 1).otherwise(-1)
        ).alias(f"__v{i}")
        for i in range(bits)
    ]
    agg = ex.groupBy(id_col).agg(*votes)
    fp = F.lit(0).cast("bigint")
    for i in range(bits):
        fp = fp + F.when(F.col(f"__v{i}") > 0, F.lit(2 ** i)).otherwise(F.lit(0)).cast("bigint")
    return agg.select(F.col(id_col), fp.alias("simhash"))


def simhash_dup_pairs(df: DataFrame, bits: int = 16, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Pairs with identical SimHash fingerprints (bucket join, no cross join)."""
    s = simhash(df, bits, text_col, id_col)
    a, b = s.alias("a"), s.alias("b")
    return a.join(
        b,
        (F.col("a.simhash") == F.col("b.simhash"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        F.col("a.simhash").alias("simhash"),
    )


def band_layout(bits: int, n_bands: int) -> list[tuple[int, int]]:
    """Contiguous (start_bit, width) bands covering [0, bits); the first
    ``bits % n_bands`` bands are one bit wider. Shared by the Spark operator
    and the SQL oracle so both engines bucket identically."""
    base, rem = divmod(bits, n_bands)
    out, start = [], 0
    for i in range(n_bands):
        w = base + (1 if i < rem else 0)
        out.append((start, w))
        start += w
    return out


def simhash_hamming_pairs(
    df: DataFrame, bits: int = 16, max_hamming: int = 2,
    text_col: str = "text", id_col: str = "doc_id",
    max_bucket: Optional[int] = None, per_doc_cap: Optional[int] = None,
    auto_cap: bool = True,
) -> DataFrame:
    """Near-dup pairs whose SimHash fingerprints differ in <= ``max_hamming``
    bits — the standard web-scale fuzzy-dedup refinement over exact-equality
    SimHash matching.

    Scale shape (pigeonhole banding): split the ``bits``-bit fingerprint into
    ``max_hamming + 1`` contiguous bit bands. Any pair within Hamming
    distance d differs in at most d bands, so it agrees EXACTLY on at least
    one band — candidates are a per-band bucket equi-join (hash shuffle on
    (band, band_value), bucket-bounded like LSH), never a cross join. The
    exact distance check is one codegen'd ``bit_count(a ^ b)`` per candidate.

    ``max_bucket``: mass-duplicated content puts m docs on one fingerprint —
    one bucket whose self-join expands O(m^2). Buckets larger than
    ``max_bucket`` instead emit only the star pairs (bucket-min member,
    other) — O(m) — which ``dedup_clusters`` recovers transitively (the
    same treatment as ``minhash_lsh_pairs``). Default None keeps the exact
    all-pairs output for oracle parity.

    ``per_doc_cap``: at high duplicate density the PAIR OUTPUT itself is
    quadratic in group size (10x-duplicated corpus -> ~100x the pairs; the
    10x scale bench measured 84.5M pairs from 50k docs). A dedup pipeline
    only needs enough edges to connect each duplicate group, so the
    production configuration caps emission at the ``per_doc_cap`` closest
    pairs per anchor (lower-id) doc — deterministic (hamming, id) order,
    one keyed window over the output, linear cost. Connected components
    still recover full groups through transitivity. Default None = exact
    all-pairs (the oracle-gated contract).

    ``auto_cap``: when neither cap was passed and the corpus exceeds
    ``DENSE_PAIR_AUTOCAP_LIMIT`` rows, the capped production configuration
    (``DENSE_PAIR_DEFAULTS``) is applied with a warning — the exact
    all-pairs footgun must be opted into (``auto_cap=False``) at scale.
    """
    nb = max_hamming + 1
    if nb > bits:
        raise ValueError("max_hamming + 1 bands need at least that many bits")
    if (
        auto_cap
        and max_bucket is None
        and per_doc_cap is None
        and _autocap_triggered(df.select(id_col), "simhash_hamming_pairs")
    ):
        max_bucket = DENSE_PAIR_DEFAULTS["max_bucket"]
        per_doc_cap = DENSE_PAIR_DEFAULTS["per_doc_cap"]
    s = simhash(df, bits, text_col, id_col)
    bands_arr = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.expr(f"shiftright(simhash, {start}) & {(1 << w) - 1}").alias("val"),
            )
            for i, (start, w) in enumerate(band_layout(bits, nb))
        ]
    )
    ex = s.select(F.col(id_col), F.col("simhash"), F.explode(bands_arr).alias("b"))
    if max_bucket is not None:
        # per-(band, value) size + min id: one extra aggregate on the band
        # key; oversize buckets keep only pairs anchored at the min-id member
        stats = ex.groupBy("b").agg(
            F.count(F.lit(1)).alias("__bn"), F.min(id_col).alias("__bmin")
        )
        ex = ex.join(stats, "b")
    a, b = ex.alias("a"), ex.alias("b")
    # the hamming filter runs BEFORE dropDuplicates: bit_count is one codegen
    # instruction per candidate, and filtering first shrinks the dedup
    # shuffle from |candidates| to |true pairs| (a pair matching in several
    # bands is deduplicated after it already passed the cheap check)
    cond = (
        (F.col("a.b.band") == F.col("b.b.band"))
        & (F.col("a.b.val") == F.col("b.b.val"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    )
    if max_bucket is not None:
        cond = cond & (
            (F.col("a.__bn") <= max_bucket) | (F.col(f"a.{id_col}") == F.col("a.__bmin"))
        )
    pairs = (
        a.join(
            b,
            cond,
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.expr("bit_count(a.simhash ^ b.simhash)").cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", "hamming")
    )
    if per_doc_cap is not None:
        w = Window.partitionBy("id_a").orderBy(
            F.col("hamming").asc(), F.col("id_b").asc()
        )
        pairs = (
            pairs.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= per_doc_cap)
            .drop("__rk")
        )
    return pairs


def dot(x, y, dim: Optional[int] = None) -> Column:
    """Deterministic left-fold dot product of float arrays (double math).

    With ``dim`` known, the fold unrolls into a left-associated sum of
    indexed products — bit-identical to the fold (0.0 + t0 + t1 + ...)
    but whole-stage-codegen'd; the array higher-order form runs on the
    interpreted path, ~10x slower per element.

    ``x``/``y`` may be column *names* (preferred): the unrolled sum (with
    ``dim``) or the interpreted fold (without) is then rendered as ONE SQL
    string parsed server-side by a single ``F.expr`` call, instead of ~6
    py4j round-trips per dimension (or per lambda node) — at dim=64 the
    unrolled form removes ~2s of driver-side plan-construction latency,
    and the fold form cuts the lambda-tree construction the same way
    (round 11)."""
    if dim is not None:
        if isinstance(x, str) and isinstance(y, str):
            terms = "".join(
                f" + CAST({x}[{i}] AS DOUBLE) * CAST({y}[{i}] AS DOUBLE)"
                for i in range(dim)
            )
            return F.expr(f"0.0D{terms}")
        acc = F.lit(0.0)
        for i in range(dim):
            acc = acc + x[i].cast("double") * y[i].cast("double")
        return acc
    if (
        isinstance(x, str) and isinstance(y, str)
        and "." not in x and "." not in y
    ):
        # same fold, one server-side parse (HOF SQL syntax analyzes to the
        # identical ArrayAggregate/ZipWith the python-lambda API builds)
        return F.expr(
            f"aggregate(zip_with(`{x}`, `{y}`, "
            "(u, v) -> CAST(u AS DOUBLE) * CAST(v AS DOUBLE)), "
            "0.0D, (acc, v) -> acc + v)"
        )
    if isinstance(x, str):
        x = F.col(x)
    if isinstance(y, str):
        y = F.col(y)
    return F.aggregate(
        F.zip_with(x, y, lambda u, v: u.cast("double") * v.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(x, dim: Optional[int] = None) -> Column:
    return F.sqrt(dot(x, x, dim))


def safe_div(num: Column, den: Column) -> Column:
    """``num / den`` with NULL (not NaN, not an error) on a zero divisor.
    Under Spark's default ANSI mode a plain division by zero THROWS
    (DIVIDE_BY_ZERO), so any cosine over a zero-norm embedding must route
    through this guard; NULL scores then drop out of rankings and
    threshold filters uniformly (both treat NULL as no-match)."""
    return F.when(den != 0, num / den)


def cosine(a: Column, b: Column, dim: Optional[int] = None) -> Column:
    """Deterministic cosine similarity between float-array columns: left-fold
    sums of double products — identical results on any engine; NULL when
    either side has zero norm. Prefer precomputing ``norm`` per side when
    one side is reused across many pairs (see similarity.cosine_topk)."""
    return safe_div(dot(a, b, dim), norm(a, dim) * norm(b, dim))


def sign_bucket(emb_col: str = "embedding", planes: int = 8) -> Column:
    """Deterministic sign-projection LSH bucket: the sign bits of the first
    ``planes`` coordinates. Coordinate axes stand in for random hyperplanes
    so the bucket is reproducible in ANSI SQL (the oracle); a production
    deployment would use seeded random projections — the pipeline shape
    (bucket -> in-bucket verify) is identical."""
    return F.concat_ws(
        "", *[F.when(F.col(emb_col)[i] >= 0, "1").otherwise("0") for i in range(planes)]
    )


def embedding_candidates_sign(
    df: DataFrame, planes: int = 8, emb_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Candidate near-dup pairs = docs sharing a sign-projection bucket.
    One hash-partitioned self-equi-join on the bucket key — no cross join;
    bucket sizes shrink geometrically with ``planes``."""
    b = df.select(F.col(id_col).alias("id"), sign_bucket(emb_col, planes).alias("bucket"))
    l, r = b.alias("l"), b.alias("r")
    return l.join(
        r, (F.col("l.bucket") == F.col("r.bucket")) & (F.col("l.id") < F.col("r.id"))
    ).select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))


QUADRATIC_VERIFY_LIMIT = 100_000

# Dense pair-emitters (simhash hamming, n-gram containment) produce output
# QUADRATIC in duplicate-group size: the 10x-amplified scale bench measured
# 84.5M pairs from 50k docs (170.9s) where the capped configuration emits
# the same connected groups in 16.6s. Above this corpus size the exact
# all-pairs default is a production footgun, so the emitters auto-apply the
# capped configuration (with a warning) unless the caller either passed
# caps explicitly or opted out with ``auto_cap=False`` (the oracle-parity
# contract). Mirrors the ``QUADRATIC_VERIFY_LIMIT`` guard above.
DENSE_PAIR_AUTOCAP_LIMIT = 20_000
DENSE_PAIR_DEFAULTS = {
    "per_doc_cap": 5,
    "max_bucket": 256,
    "max_shingle_df": 1_000,
    # containment candidate prefix (rarest shingles per doc) in capped
    # mode: bounds candidate volume when duplicate density — not shingle
    # df — is what blows up the pair space (miss probability for a true
    # pair at threshold t is ~(1-t)^prefix_cap; scores stay exact)
    "prefix_cap": 4,
    # containment candidates scored per contained doc in capped mode: at
    # extreme duplicate density the prefix filter stops pruning (the 100x
    # probe measured 227M candidate pairs from 334k canon docs because
    # every "rare" shingle has df ~150 — the whole vocabulary is dense),
    # and scoring that many pairs with ~0.5 kB shingle arrays attached is
    # ~200 GB of join intermediate. Ranking candidates per contained doc
    # by shared-PREFIX-hit count and keeping the top candidate_cap bounds
    # scoring volume linearly in corpus size; true near-dups share the
    # whole prefix (hit count = prefix length) so drops happen only inside
    # duplicate groups larger than candidate_cap, where per_doc_cap keeps
    # just the strongest few anyway.
    "candidate_cap": 64,
}
# LSH candidate buckets cap lower than exact-fingerprint buckets: members of
# one banding bucket are mutually-likely near-dups, so the star pairs
# (bucket-min, other) preserve the connectivity a clustering consumer needs
# while a 100-member bucket stops costing 4,950 pairs (measured: the 100x
# corpus probe ran fuzzy_dedup_keep 314s uncapped vs the capped plan's
# linear star output). Pairwise consumers that need every in-bucket edge
# should pass max_bucket explicitly.
LSH_AUTOCAP_BUCKET = 64


def _plan_rowcount(df: DataFrame):
    """Row count WITHOUT running a Spark job, when the plan allows it.

    A pure column-pruned parquet scan (Project*/Relation only — no Filter/
    Join/Aggregate/Union in the optimized plan) has its exact row count in
    the parquet footers, so the probe is a driver-side metadata read over
    ``df.inputFiles()`` instead of a cluster-wide count job — at 100 TB the
    guarded pair job should not be preceded by a full scan of the id
    projection. Returns None when the plan is not a pure scan (computed
    inputs fall back to a counted job, memoized per plan)."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        node = plan
        while node.nodeName() == "Project":
            if node.children().size() != 1:
                return None
            node = node.children().apply(0)
        if node.nodeName() not in ("LogicalRelation", "Relation", "RelationV2") \
                or "parquet" not in node.simpleString(100).lower():
            return None
        files = df.inputFiles()
        if not files:
            return None
        import pyarrow.parquet as pq

        total = 0
        for uri in files:
            path = uri[7:] if uri.startswith("file://") else uri
            if "://" in path:
                return None  # non-local filesystem: no cheap footer access
            total += pq.ParquetFile(path).metadata.num_rows
        return total
    except Exception:
        return None


# plan semanticHash -> counted rows, so repeated autocapped calls over the
# same computed input pay the count job once per session (ADVICE r4)
_ROWCOUNT_CACHE: dict = {}


def _corpus_rowcount(df: DataFrame):
    """Row count of a (batch) corpus projection: free parquet-footer read
    when the plan allows (``_plan_rowcount``), else a count job memoized by
    the analyzed plan's semantic hash. None for streaming inputs.

    Caveat: the memo keys on the PLAN, not the data — if the underlying
    table gains rows mid-session (append/insert under the same logical
    plan), the stale count can under-trigger the autocap until the session
    (or the 256-entry cache) rolls over. Size probes here gate plan choice
    and cap warnings, never correctness of emitted rows."""
    if df.isStreaming:
        return None
    n = _plan_rowcount(df)
    if n is None:
        try:
            key = df._jdf.queryExecution().analyzed().semanticHash()
        except Exception:
            key = None
        if key is not None and key in _ROWCOUNT_CACHE:
            n = _ROWCOUNT_CACHE[key]
        else:
            n = df.count()
            if key is not None:
                if len(_ROWCOUNT_CACHE) > 256:
                    _ROWCOUNT_CACHE.clear()
                _ROWCOUNT_CACHE[key] = n
    return n


def _autocap_triggered(df: DataFrame, fn_name: str, caps=None) -> bool:
    """True when ``df`` exceeds ``DENSE_PAIR_AUTOCAP_LIMIT`` rows. The probe
    is free for parquet-scan inputs (footer metadata via ``_plan_rowcount``)
    and a memoized count job otherwise. Emits the warning naming the
    applied caps (``caps`` overrides the dedup-family defaults for callers
    like ``multimodal.image_neardup_pairs`` whose knob set differs)."""
    import warnings

    n = _corpus_rowcount(df)
    if n is None or n <= DENSE_PAIR_AUTOCAP_LIMIT:
        return False
    warnings.warn(
        f"{fn_name}: corpus has {n} rows (> DENSE_PAIR_AUTOCAP_LIMIT="
        f"{DENSE_PAIR_AUTOCAP_LIMIT}); applying the capped production "
        f"configuration {caps if caps is not None else DENSE_PAIR_DEFAULTS} "
        "because exact all-pairs output is quadratic in duplicate-group "
        "size. Pass caps explicitly or auto_cap=False for the exact "
        "contract.",
        stacklevel=3,
    )
    return True


def embedding_dup_pairs(
    df: DataFrame, threshold: float = 0.4, emb_col: str = "embedding",
    id_col: str = "vec_id", candidates: Optional[DataFrame] = None,
    dim: Optional[int] = None, allow_quadratic: bool = False,
) -> DataFrame:
    """Exact cosine near-dup pairs.

    With ``candidates`` (an (id_a, id_b) DataFrame, e.g. from
    ``embedding_candidates_sign`` or ``minhash_lsh_pairs``), the exact
    cosine runs only on those pairs via two hash equi-joins — the 100 TB
    shape (verify is linear in candidate count, never O(n^2)).

    Without candidates this is the quadratic all-pairs verifier
    (BroadcastNestedLoopJoin) — small-table ground truth ONLY. It warns at
    call time, and unless ``allow_quadratic=True`` it refuses inputs above
    ``QUADRATIC_VERIFY_LIMIT`` rows (n^2/2 cosine evaluations past that
    point is a cluster-melter, not a slow query — at 100k rows it is
    already 5e9 pairs). The all-pairs path stays on the interpreted
    ``aggregate`` fold on purpose: under BNLJ no whole-stage codegen runs
    and the HOF fold's tight array loop is ~2x faster than a 64-term
    unrolled expression tree (measured at sf0.1). The candidate path IS
    codegen'd, so there the unrolled form wins — pass ``dim`` to unroll."""
    df = _spread(df)
    if candidates is None:
        import warnings

        warnings.warn(
            "embedding_dup_pairs without candidates= is the O(n^2) all-pairs "
            "verifier; wire candidates from embedding_candidates_sign (or an "
            "LSH family) for the scalable path",
            RuntimeWarning,
            stacklevel=2,
        )
        if not allow_quadratic:
            n = df.count()
            if n > QUADRATIC_VERIFY_LIMIT:
                raise ValueError(
                    f"embedding_dup_pairs: {n} rows without candidates= would "
                    f"evaluate ~{n * (n - 1) // 2:.2g} pairs; pass candidates= "
                    f"(scale path) or allow_quadratic=True to override"
                )
    a = df.select(F.col(id_col).alias("id_a"), F.col(emb_col).alias("ea"),
                  norm(F.col(emb_col), dim).alias("na"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(emb_col).alias("eb"),
                  norm(F.col(emb_col), dim).alias("nb"))
    if candidates is not None:
        pairs = (
            candidates.select("id_a", "id_b").dropDuplicates(["id_a", "id_b"])
            .join(a, "id_a").join(b, "id_b")
        )
        cos = dot("ea", "eb", dim) if dim is not None else dot(F.col("ea"), F.col("eb"))
    else:
        pairs = a.join(b, F.col("id_a") < F.col("id_b"))
        cos = dot(F.col("ea"), F.col("eb"))
    return (
        pairs.withColumn("cos", F.round(safe_div(cos, F.col("na") * F.col("nb")), 6))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def _cc_fused_fn(max_iterations: int, pair_limit: int):
    """Single-task min-label propagation over the whole pair table — the
    optimization-round fast path of :func:`dedup_clusters` (guide §1.2).
    Runs the IDENTICAL algorithm the distributed loop runs (per-round
    min over own + incoming-neighbor labels, change-tracked convergence,
    same round budget), so labels AND the non-convergence condition are
    equal by construction; the raise itself happens on the driver (a task
    exception would surface as PythonException, not the documented
    RuntimeError), signalled through the constant ``__exceeded`` column.

    Size guard (round 11, VERDICT r10 item 4): the task counts arriving
    rows and ABORTS past ``pair_limit`` — it stops consuming the
    iterator, drops what it buffered, and emits a one-row ``__overflow``
    sentinel; the driver then routes to the distributed loop. The guard
    therefore costs zero extra jobs in the common case (the count rides
    the rows the task had to read anyway) and bounds the task's memory
    AND read volume to ~pair_limit rows in the overflow case."""

    def run(batches):
        import numpy as np
        import pandas as pd

        frames = []
        n_rows = 0
        for b in batches:
            if not len(b):
                continue
            n_rows += len(b)
            if n_rows > pair_limit:
                yield pd.DataFrame(
                    {"node": [None], "label": [None],
                     "__exceeded": [False], "__overflow": [True]}
                )
                return
            frames.append(b)
        if not frames:
            return
        e = pd.concat(frames, ignore_index=True) if len(frames) > 1 else frames[0]
        ids_a, ids_b = e["id_a"].to_numpy(), e["id_b"].to_numpy()
        codes, uniq = pd.factorize(np.concatenate([ids_a, ids_b]))
        n_pairs = len(e)
        # both edge directions, like the distributed union
        src = np.concatenate([codes[:n_pairs], codes[n_pairs:]])
        dst = np.concatenate([codes[n_pairs:], codes[:n_pairs]])
        order = np.argsort(dst, kind="stable")
        src_d, dst_d = src[order], dst[order]
        starts = np.flatnonzero(np.r_[True, dst_d[1:] != dst_d[:-1]])
        seg_nodes = dst_d[starts]
        n = len(uniq)
        # node's own id as its initial label; propagate FACTORIZED indices
        # ordered by the true id order so min-of-index == min-of-id
        rank_of = np.empty(n, dtype=np.int64)
        rank_of[np.argsort(uniq, kind="stable")] = np.arange(n)
        labels = rank_of.copy()
        converged = False
        changed_last = False
        for it in range(max_iterations):
            incoming = np.minimum.reduceat(labels[src_d], starts)
            new = labels.copy()
            # seg_nodes are the distinct destinations (one per segment), so
            # plain fancy-index assignment is safe — no duplicate indices
            new[seg_nodes] = np.minimum(new[seg_nodes], incoming)
            changed_last = bool((new != labels).any())
            labels = new
            if it > 0 and not changed_last:
                converged = True
                break
        exceeded = (not converged) and changed_last
        id_by_rank = uniq[np.argsort(uniq, kind="stable")]
        out = pd.DataFrame({"node": uniq, "label": id_by_rank[labels]})
        out["__exceeded"] = exceeded
        out["__overflow"] = False
        yield out

    return run


# Size guard for the fused single-task CC propagation (round 11, VERDICT
# r10 item 4): past this many PAIR rows the fused task aborts with an
# ``__overflow`` sentinel and dedup_clusters falls back to the distributed
# loop automatically. One task must hold the pair table plus ~6 transient
# int64 arrays of 2*n entries (factorize codes, both edge directions, the
# segment sort) ≈ 100-150 B/pair for int64 ids (more for string ids — the
# bound is deliberately conservative): 5M pairs ≈ 0.5-1 GB, comfortably
# inside a task; a billion-pair near-dup graph at 100 TB routes to the
# distributed loop instead of silently OOMing one executor.
FUSED_CC_PAIR_LIMIT = 5_000_000


def _cc_not_converged(max_iterations: int) -> RuntimeError:
    return RuntimeError(
        f"dedup_clusters did not converge in max_iterations="
        f"{max_iterations} rounds: the pair graph has a component of "
        f"diameter > {max_iterations} (labels still changed in the last "
        "round). Raise max_iterations — each extra round costs one "
        "edges-join + groupBy-min."
    )


def dedup_clusters(pairs: DataFrame, max_iterations: int = 20) -> DataFrame:
    """Connected components over a duplicate-pair graph: each doc maps to the
    minimum id reachable through pair edges (the cluster's canonical id).

    Input: (id_a, id_b) pair rows (e.g. from minhash_lsh_pairs). Output:
    (doc_id, cluster_id).

    The whole propagation loop runs in ONE Arrow task over the pair
    table — the pair graph is |near-dup pairs|-bounded (a small fraction
    of the corpus under LSH banding + caps), so the per-round Spark
    machinery (edges⋈labels join, groupBy-min, eager localCheckpoint,
    convergence-probe count = ~3 jobs x rounds) costs far more than the
    propagation itself. The fused
    task runs the identical per-round min-label algorithm (numpy segment
    mins), so labels and the non-convergence raise are equal by
    construction; one job materializes it, one trivial probe reads the
    convergence flag. The fused engine is size-guarded (round 11): the
    task aborts past ``FUSED_CC_PAIR_LIMIT`` arriving pair rows with an
    ``__overflow`` sentinel (bounding its memory and read volume) and the
    call re-routes to the distributed loop, for pair graphs beyond one
    task's memory:

    Distributed shape: iterative min-label propagation — each round joins
    labels across edges and keeps the per-node min; converges in O(graph
    diameter) rounds (near-dup clusters are shallow, so a handful). Each
    round is ONE groupBy-min over (own + neighbor) labels; the previous
    label rides along as ``__own`` (min ignores the nulls on neighbor rows),
    so convergence is read off the materialized round with a trivial scan
    instead of a second join job. ``localCheckpoint`` truncates lineage so
    plans don't grow with iterations, and the pair input is checkpointed
    once so the (possibly expensive) candidate pipeline upstream is not
    recomputed per union branch. This is the standard large-graph CC shape
    (no driver-side union-find, no collect)."""
    if max_iterations < 1:
        # with zero rounds new_labels stays None and the non-convergence
        # guard below is skipped — the function would silently return
        # identity labels (every node its own cluster)
        raise ValueError(
            f"max_iterations must be >= 1, got {max_iterations}"
        )
    id_t = dict(pairs.select("id_a", "id_b").dtypes)["id_a"]
    labeled = (
        pairs.select("id_a", "id_b")
        .repartition(1)
        .mapInPandas(
            _cc_fused_fn(max_iterations, FUSED_CC_PAIR_LIMIT),
            f"node {id_t}, label {id_t}, "
            "__exceeded boolean, __overflow boolean",
        )
        .localCheckpoint(eager=True)
    )
    probe = labeled.select("__exceeded", "__overflow").first()
    if probe is None or not probe["__overflow"]:
        if probe is not None and probe["__exceeded"]:
            raise _cc_not_converged(max_iterations)
        return labeled.select(
            F.col("node").alias("doc_id"),
            F.col("label").alias("cluster_id"),
        )
    # auto-fallback (round 11, VERDICT r10 item 4): the pair graph
    # exceeded FUSED_CC_PAIR_LIMIT, so the fused task aborted before
    # buffering it — run the distributed loop instead
    p = pairs.select("id_a", "id_b").localCheckpoint(eager=False)
    edges = (
        p.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(p.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
    )
    edges = edges.localCheckpoint(eager=False)
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    label_t = dict(p.dtypes)["id_a"]
    new_labels = None
    converged = False
    for it in range(max_iterations):
        # candidate labels: own label + the labels of all neighbors; the own
        # row carries the previous label in __own (null on neighbor rows, so
        # per-node min(__own) = previous label)
        own = labels.select("node", "label", F.col("label").alias("__own"))
        neighbor = (
            edges.join(labels.withColumnRenamed("node", "dst"), "dst")
            .select(F.col("src").alias("node"), F.col("label"),
                    F.lit(None).cast(label_t).alias("__own"))
        )
        new_labels = (
            own.unionByName(neighbor)
            .groupBy("node")
            .agg(F.min("label").alias("label"), F.min("__own").alias("__own"))
            .localCheckpoint(eager=True)
        )
        labels = new_labels.select("node", "label")
        # round 1 always relabels the larger endpoint of some edge — skip the
        # (cheap, checkpoint-scan) convergence probe there
        if it > 0 and new_labels.filter(F.col("label") != F.col("__own")).limit(1).count() == 0:
            converged = True
            break
    # fail LOUDLY on non-convergence: a duplicate chain of graph diameter >
    # max_iterations would otherwise be silently split into several clusters
    # (and every downstream keep-set / size-histogram silently wrong). The
    # probe reuses the last round's checkpointed (label, __own) columns, so
    # it costs a scan, not a join.
    if not converged and new_labels is not None and (
        new_labels.filter(F.col("label") != F.col("__own")).limit(1).count() > 0
    ):
        raise _cc_not_converged(max_iterations)
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def streaming_exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    ts_col: Optional[str] = None, within: str = "10 minutes",
) -> DataFrame:
    """Exact content dedup for CONTINUOUS ingest: emit only the first doc per
    content hash. With ``ts_col`` the stream is watermarked and state is
    bounded to the ``within`` horizon (``dropDuplicatesWithinWatermark`` —
    one 32-char hash per unique doc inside the horizon, evicted after it);
    without a timestamp the state is the full hash set (documented
    unbounded — fine for bounded backfills, use ``within`` for 24/7 ingest).

    Same single-shuffle shape as batch ``exact_dedup_groups``: hash
    partition on md5(text). Survivor semantics per mode: streaming keeps the
    FIRST-ARRIVED doc per hash (state-order semantics); batch keeps the
    min-``id_col`` doc per hash (a deterministic canonical pick — batch has
    no arrival order, and an arbitrary ``dropDuplicates`` survivor would be
    partition-order dependent), matching ``exact_dedup_groups``/``curate``."""
    return keyed_streaming_dedup(
        df.withColumn("__h", F.md5(F.col(text_col))),
        key_col="__h", ts_col=ts_col, within=within, order_col=id_col,
    ).drop("__h")


def keyed_streaming_dedup(
    df: DataFrame,
    key_col: str,
    ts_col: Optional[str] = None,
    within: str = "10 minutes",
    order_col: str = "doc_id",
) -> DataFrame:
    """Shared keyed-dedup core for the streaming dedup family (exact text
    dedup here, perceptual image dedup in llm.multimodal): first row per
    ``key_col`` survives. Streaming with ``ts_col``: watermark-bounded
    state via ``dropDuplicatesWithinWatermark``; streaming without:
    unbounded key-set state (bounded backfills); batch: the min-
    ``order_col`` row per key (deterministic canonical pick — batch has no
    arrival order). One place to fix the semantics for every caller."""
    if ts_col is not None and df.isStreaming:
        dt = dict(df.dtypes).get(ts_col, "")
        tcol = F.col(ts_col) if dt.startswith("timestamp") else F.timestamp_millis(
            F.col(ts_col).cast("bigint")
        )
        return (
            df.withColumn("__wm", tcol)
            .withWatermark("__wm", within)
            .dropDuplicatesWithinWatermark([key_col])
            .drop("__wm")
        )
    if df.isStreaming:
        return df.dropDuplicates([key_col])
    w = Window.partitionBy(key_col).orderBy(F.col(order_col).asc())
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .drop("__rk")
    )


def ngram_containment_pairs(
    df: DataFrame, threshold: float = 0.8, text_col: str = "text",
    id_col: str = "doc_id", n: int = 3, per_doc_cap: Optional[int] = None,
    max_shingle_df: Optional[int] = None, prefix_cap: Optional[int] = None,
    candidate_cap: Optional[int] = None, auto_cap: bool = True,
) -> DataFrame:
    """Asymmetric near-dup: containment(A, B) = |sh(A) ∩ sh(B)| / |sh(A)| —
    flags docs mostly CONTAINED in another (quotes, scraped excerpts,
    boilerplate-wrapped copies) that symmetric Jaccard under-scores when the
    container is much longer.

    Scale shape — PREFIX-FILTERED set join (SSJoin/PPJoin, Chaudhuri et al.
    ICDE'06 / Xiao et al. WWW'08), exact output: a directed pair (A -> B)
    with containment >= t shares at least ``|sh(A)| - ceil(t*|sh(A)|) + 1``
    common shingles with B drawn from A's PREFIX under a global
    rarest-first shingle order (df asc, shingle asc) — if A's prefix missed
    B entirely, all common shingles would fit in A's suffix of length
    ``ceil(t*|sh(A)|) - 1 < common``, a contradiction. (The implementation
    uses one extra prefix shingle beyond this textbook bound because the
    final filter tests the 6-decimal-ROUNDED ratio, which
    ``common = ceil(t*|sh(A)|) - 1`` can still pass.) So the candidate
    join is prefix-shingles x all-shingles instead of the full self-join:
    on a dense-vocabulary corpus the fan-out drops ~10x (measured 137M ->
    16M rows at 10x duplicate density), and — unlike the full join — the
    fan-out of a shingle scales with its *prefix* df, which is small for
    common shingles (they sort last and rarely enter prefixes). Candidate
    pairs are then scored EXACTLY with one codegen'd ``array_intersect``
    over the two docs' distinct-shingle arrays (attached by id equi-joins;
    the array table is one row per doc, broadcast-able when small), so the
    emitted (pair, score) set is identical to the naive join-and-count
    plan. Returns (contained_id, container_id, containment) with
    containment >= threshold in either direction.

    ``per_doc_cap``: cap emission at the ``per_doc_cap`` strongest containers
    per contained doc (containment desc, container id) — the production
    configuration at high duplicate density, where the exact pair output
    grows quadratically with group size (a contained doc needs only its
    best containers for filtering/clustering). Default None = exact output
    (the oracle-gated contract).

    ``max_shingle_df``: drop shingles whose document frequency exceeds the
    cap BEFORE the candidate join. The prefix filter already keeps common
    shingles out of most prefixes, but a doc made mostly of boilerplate
    has boilerplate in its prefix too — the df-cut bounds that residual
    fan-out (df_prefix x df per shingle) at true web scale. Containment is
    then computed over the surviving (discriminative) shingle space — a
    documented approximation: docs made ENTIRELY of ultra-common shingles
    drop out, which for near-dup detection is the intent (they are
    boilerplate). The standard web-dedup df-cut.

    ``prefix_cap``: additionally cap the candidate prefix at this many
    (rarest) shingles per doc — SHORTER than the lossless length, so it is
    a recall approximation (a true pair is missed only when none of the
    contained doc's ``prefix_cap`` rarest shingles appear in the container
    — for containment >= 0.8 at least 80% of ALL its shingles do, so the
    miss probability is ~(1-t)^prefix_cap). Scores of discovered pairs
    stay exact. This is the knob that bounds candidate volume at high
    duplicate density, where the lossless prefix is ~(1-t)*|sh(doc)| and
    candidate count still tracks pair density (measured 8.3M candidates
    from 35k canon docs at 10x).

    ``candidate_cap``: score at most this many candidates per contained
    doc, ranked by shared-prefix-hit count (desc, container id asc) — the
    knob that bounds SCORING volume at extreme duplicate density, where
    the prefix filter itself stops pruning because no shingle is rare
    (measured: 227M candidate pairs from 334k canon docs at 100x density
    — ~200 GB of array-attached join intermediate without this cap). A
    true pair is dropped only when the contained doc has ``candidate_cap``
    other candidates with at least its hit count; near-identical docs hit
    the full prefix, so drops concentrate inside duplicate groups larger
    than ``candidate_cap`` — exactly where ``per_doc_cap`` keeps only the
    strongest few containers anyway. Scores of surviving pairs stay exact.

    ``auto_cap``: when none of the knobs was passed and the corpus exceeds
    ``DENSE_PAIR_AUTOCAP_LIMIT`` rows, the capped production configuration
    (``per_doc_cap``/``max_shingle_df``/``prefix_cap``/``candidate_cap``
    from ``DENSE_PAIR_DEFAULTS``) is applied with a warning;
    ``auto_cap=False`` keeps the exact contract.

    Shingle identity inside the candidate join and the intersection is a
    64-bit ``xxhash64`` of the shingle string (8-byte join keys and ~8x
    smaller score-join payloads than raw 3-word strings). A cross-shingle
    hash collision inside one scored pair under- or over-counts ``common``
    by 1; at ~10^2 shingles per doc that is P ~ 1e-15 per pair —
    negligible against the oracle at any testable scale and the industry
    trade at web scale."""
    if prefix_cap is not None or candidate_cap is not None:
        # an explicit prefix/candidate cap forces the prefix plan, so the
        # size probe decides nothing — skip it (n_rows only gates the
        # scoring-side broadcast, and None conservatively picks the
        # shuffled hash join)
        n_rows = None
        big = False
    else:
        n_rows = _corpus_rowcount(df.select(id_col))
        big = n_rows is not None and n_rows > DENSE_PAIR_AUTOCAP_LIMIT
    if (
        auto_cap
        and per_doc_cap is None
        and max_shingle_df is None
        and prefix_cap is None
        and candidate_cap is None
        and big
    ):
        import warnings

        warnings.warn(
            f"ngram_containment_pairs: corpus has {n_rows} rows (> "
            f"DENSE_PAIR_AUTOCAP_LIMIT={DENSE_PAIR_AUTOCAP_LIMIT}); applying "
            f"the capped production configuration {DENSE_PAIR_DEFAULTS} "
            "because exact all-pairs output is quadratic in duplicate-group "
            "size. Pass caps explicitly or auto_cap=False for the exact "
            "contract.",
            stacklevel=2,
        )
        per_doc_cap = DENSE_PAIR_DEFAULTS["per_doc_cap"]
        max_shingle_df = DENSE_PAIR_DEFAULTS["max_shingle_df"]
        prefix_cap = DENSE_PAIR_DEFAULTS["prefix_cap"]
        candidate_cap = DENSE_PAIR_DEFAULTS["candidate_cap"]
    # plan choice is COST-BASED, not semantic: both plans emit the identical
    # (pair, score) set. Small corpora (and streaming inputs, which cannot
    # be probed) take the naive join-and-count plan — fewer stages, fast
    # when sum(df^2) is small; large corpora take the prefix-filtered plan
    # whose candidate join scales with prefix-df x df instead of df^2.
    if big or prefix_cap is not None or candidate_cap is not None:
        both = _containment_scores_prefix(
            df, threshold, text_col, id_col, n, max_shingle_df, prefix_cap,
            candidate_cap, n_rows
        )
    else:
        both = _containment_scores_naive(df, text_col, id_col, n, max_shingle_df)
    fwd = both.select(
        F.col("id_a").alias("contained_id"), F.col("id_b").alias("container_id"),
        F.round(F.col("common") / F.col("na"), 6).alias("containment"),
    )
    rev = both.select(
        F.col("id_b").alias("contained_id"), F.col("id_a").alias("container_id"),
        F.round(F.col("common") / F.col("nb"), 6).alias("containment"),
    )
    pairs = fwd.unionByName(rev).filter(F.col("containment") >= threshold)
    if per_doc_cap is not None:
        w = Window.partitionBy("contained_id").orderBy(
            F.col("containment").desc(), F.col("container_id").asc()
        )
        pairs = (
            pairs.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= per_doc_cap)
            .drop("__rk")
        )
    return pairs


def _containment_scores_naive(
    df: DataFrame, text_col: str, id_col: str, n: int,
    max_shingle_df: Optional[int],
) -> DataFrame:
    """Undirected (id_a, id_b, common, na, nb) via the full shingle
    self-equi-join + pair-count aggregate — fewest stages, optimal while
    sum over shingles of df^2 stays small (the oracle scales)."""
    sh = shingle_table(_spread(df.select(id_col, text_col)), text_col, id_col, n)
    if max_shingle_df is not None:
        rare = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_shingle_df)
            .select("shingle")
        )
        sh = sh.join(rare, "shingle")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("nb"))
    return common.join(sa, "id_a").join(sb, "id_b").select(
        "id_a", "id_b", "common", "na", "nb"
    )


def _containment_scores_prefix(
    df: DataFrame, threshold: float, text_col: str, id_col: str, n: int,
    max_shingle_df: Optional[int], prefix_cap: Optional[int],
    candidate_cap: Optional[int], n_rows,
) -> DataFrame:
    """Undirected (id_a, id_b, common, na, nb) via the prefix-filtered plan
    (see ``ngram_containment_pairs`` docstring). All per-shingle work runs
    on 64-bit top-level ``xxhash64`` keys (whole-stage codegen; 8-byte join
    keys and array payloads), and the one shingle explode is checkpointed
    so the df-count, the two candidate sides, and the two scoring sides
    never re-run it."""
    sh2 = (
        shingle_table(_spread(df.select(id_col, text_col)), text_col, id_col, n)
        .select(F.col(id_col), F.xxhash64("shingle").alias("__h"))
        .localCheckpoint(eager=False)
    )
    # global df per shingle hash (on the UNCUT table, so the df-cut
    # threshold means what it says), then the optional df-cut
    dft = sh2.groupBy("__h").agg(F.count(F.lit(1)).alias("__df"))
    shd = sh2.join(dft, "__h")
    if max_shingle_df is not None:
        shd = shd.filter(F.col("__df") <= max_shingle_df)
    # one row per doc: shingle hashes sorted rarest-first ((df, hash) — a
    # deterministic global order). Materialized once for 4 consumers.
    docarr = (
        shd.groupBy(id_col)
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("__df", "__h"))),
                lambda s: s["__h"],
            ).alias("__arr"),
            F.count(F.lit(1)).alias("n_sh"),
        )
        .localCheckpoint(eager=False)
    )
    # lossless prefix length for the contained direction (SSJoin bound):
    # n_sh - ceil(t*n_sh) + 2. The textbook bound is +1 (common >=
    # ceil(t*n_sh)), but the emitted filter tests the 6-DECIMAL-ROUNDED
    # ratio, which common = ceil(t*n_sh) - 1 can still pass via round-up
    # (round(common/na, 6) >= t while common/na < t); one extra slack
    # shingle covers that weakest passing common for any na < ~1e6
    # shingles, keeping the prefix plan's pair set identical to the naive
    # plan's. prefix_cap shortens the prefix (capped mode).
    p = (F.col("n_sh") - F.ceil(F.lit(float(threshold)) * F.col("n_sh")) + 2).cast("int")
    if prefix_cap is not None:
        p = F.least(p, F.lit(int(prefix_cap)))
    pref = docarr.select(
        F.col(id_col).alias("__pid"),
        F.explode(F.slice("__arr", F.lit(1), F.greatest(p, F.lit(1)))).alias("__h"),
    )
    full = docarr.select(F.col(id_col).alias("__fid"), F.explode("__arr").alias("__h"))
    # candidates: (prefix of contained) x (full set of container), both
    # directions normalized to one undirected pair; the exact score filter
    # decides — the prefix only bounds who gets scored
    cand_raw = pref.join(full, "__h").filter(F.col("__pid") != F.col("__fid"))
    if candidate_cap is not None:
        # rank candidates per contained doc by how many of its prefix
        # shingles the container shares and keep the strongest
        # candidate_cap. A pair survives if it makes EITHER endpoint's cut
        # (union semantics, same as the two lossless prefix directions).
        #
        # ONE exchange serves the whole stage (round-6, VERDICT ask #6):
        # repartition on __pid alone — HashPartitioning([__pid]) satisfies
        # BOTH the (__pid, __fid) hits aggregation's clustered distribution
        # (subset rule) and the rank window's, so neither re-shuffles. The
        # groupBy-then-Window formulation moved the 100x probe's 227M-row
        # candidate table through TWO full exchanges (the map-side combine
        # barely reduced the first: same-(pid,fid) rows land on different
        # tasks of the __h-partitioned join output); this one moves the raw
        # rows once. Measured at 100x density: 402s -> 222s end-to-end
        # (~2.6x linear vs the same-session 10x floor; SCALE.md round 6).
        hits = (
            cand_raw.repartition(F.col("__pid"))
            .groupBy("__pid", "__fid")
            .agg(F.count(F.lit(1)).alias("__hits"))
        )
        wk = Window.partitionBy("__pid").orderBy(
            F.col("__hits").desc(), F.col("__fid").asc()
        )
        cand_raw = (
            hits.withColumn("__ck", F.row_number().over(wk))
            .filter(F.col("__ck") <= candidate_cap)
        )
    cand = cand_raw.select(
        F.least("__pid", "__fid").alias("id_a"),
        F.greatest("__pid", "__fid").alias("id_b"),
    ).dropDuplicates(["id_a", "id_b"])
    la = docarr.select(
        F.col(id_col).alias("id_a"), F.col("__arr").alias("__sa"), F.col("n_sh").alias("na")
    )
    lb = docarr.select(
        F.col(id_col).alias("id_b"), F.col("__arr").alias("__sb"), F.col("n_sh").alias("nb")
    )
    if n_rows is not None and n_rows <= 200_000:
        # the per-doc array table is tiny at this corpus size — broadcast
        # both scoring sides so candidate rows never shuffle with array
        # payloads attached (at web scale the hash equi-join is the plan)
        la, lb = F.broadcast(la), F.broadcast(lb)
    else:
        # above the broadcast cutoff the default SortMergeJoin SORTS the
        # candidate stream with ~kB shingle-array payloads attached — at
        # 100x duplicate density (334k canon docs, ~11M dense pairs) that
        # sort spilled >45 GB of local disk. A shuffled hash join builds
        # the hash table from the per-doc array side (one row per doc) and
        # streams the skinny candidate rows through it — array-attached
        # rows are never sorted.
        la = la.hint("shuffle_hash")
        lb = lb.hint("shuffle_hash")
    return (
        cand.join(la, "id_a")
        .join(lb, "id_b")
        .withColumn("common", F.size(F.array_intersect("__sa", "__sb")))
        .select("id_a", "id_b", "common", "na", "nb")
    )


def fuzzy_dedup_keep(
    df: DataFrame, num_hashes: int = 8, bands: int = 4, threshold: float = 0.5,
    text_col: str = "text", id_col: str = "doc_id", n: int = 3,
    max_bucket: Optional[int] = None, auto_cap: bool = True,
) -> DataFrame:
    """One-call fuzzy corpus dedup — the pipeline users actually run:
    MinHash-LSH candidate pairs -> connected components -> keep each
    cluster's min-id representative plus every unclustered doc. Returns the
    surviving rows of ``df`` (all columns).

    Above ``DENSE_PAIR_AUTOCAP_LIMIT`` corpus rows the pair stage star-caps
    oversize LSH buckets (``LSH_AUTOCAP_BUCKET``), so the keep-set is an
    APPROXIMATION of the exact one: a star candidate that fails the
    ``threshold`` score drops the in-bucket edges exact mode would have
    scored, and duplicates connected only through those edges survive.
    Banding buckets hold mutually-likely near-dups, so in practice the star
    closure preserves group connectivity — but callers needing the exact
    keep-set at scale must pass ``auto_cap=False`` (quadratic footgun) or an
    explicit ``max_bucket``; both are forwarded to ``minhash_lsh_pairs``.

    Scale shape: the banded pair job (bucket-bounded equi-join; pass
    ``max_bucket`` for viral-content star-capping), label propagation over
    the pair graph (llm/dedup.dedup_clusters — O(diameter) rounds, no
    collect), then ONE left-anti hash join on the drop set. The drop set is
    |duplicates| rows — at typical web duplicate rates a fraction of the
    corpus — and only ids travel, so the join is broadcast-able when small
    and a plain hash anti-join otherwise."""
    pairs = minhash_lsh_pairs(
        df, num_hashes, bands, threshold, text_col, id_col, n, max_bucket,
        auto_cap=auto_cap,
    )
    clusters = dedup_clusters(pairs)
    drop = clusters.filter(F.col("cluster_id") != F.col("doc_id")).select(
        F.col("doc_id").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")


def semantic_dedup(
    df: DataFrame, threshold: float = 0.7, planes: int = 8,
    emb_col: str = "embedding", id_col: str = "vec_id",
    dim: Optional[int] = None, score_col: Optional[str] = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication decision table (Abbas et al.
    2023 pipeline shape: cluster embeddings, drop members too close to the
    cluster representative).

    Clusters are deterministic sign-projection buckets (``sign_bucket``);
    the representative is the min-id member of each bucket — or, with
    ``score_col``, the highest-scoring member (min id on ties), so the
    KEPT doc per semantic cluster is the best one, the SemDeDup intent
    when a quality signal exists. A member is dropped when its cosine to
    the representative reaches ``threshold``.
    Output: (id, bucket, rep_id, cos_rep, keep) — the full decision table,
    so callers can either filter ``keep`` or audit the dropped set.

    100 TB shape: ONE partial-aggregatable shuffle (min-id per bucket —
    at most 2^planes groups), then two broadcast joins (the representative
    table is <= 2^planes rows); the per-row cosine is a codegen'd unrolled
    expression when ``dim`` is passed. No self-join at any point — cost is
    strictly linear in corpus size, unlike pairwise near-dup detection."""
    base = _spread(df).select(
        F.col(id_col), F.col(emb_col), sign_bucket(emb_col, planes).alias("bucket")
    )
    if score_col is not None:
        # best-scoring member wins; ties break to the min id (negated id in
        # the orderable struct). Same single partial-agg'd shuffle.
        pick = _spread(df).select(
            F.col(id_col), sign_bucket(emb_col, planes).alias("bucket"),
            F.struct(F.col(score_col), (-F.col(id_col)).alias("__nid")).alias("__ord"),
        )
        reps = pick.groupBy("bucket").agg(
            F.expr(f"max_by({id_col}, __ord)").alias("rep_id")
        )
    else:
        reps = base.groupBy("bucket").agg(F.min(id_col).alias("rep_id"))
    # both joins build on the <=2^planes-row representative side: the corpus
    # is only ever the streamed probe side — it never shuffles
    rep_embs = F.broadcast(
        F.broadcast(reps).join(
            df.select(F.col(id_col).alias("rep_id"), F.col(emb_col).alias("__rep_emb")),
            "rep_id",
        )
    )
    joined = base.join(rep_embs, "bucket")
    cos = F.round(
        safe_div(dot(emb_col, "__rep_emb", dim),
                 norm(emb_col, dim) * norm("__rep_emb", dim)),
        6,
    )
    return (
        joined.withColumn("cos_rep", cos)
        .withColumn(
            "keep",
            (F.col(id_col) == F.col("rep_id")) | (F.col("cos_rep") < F.lit(threshold)),
        )
        .select(id_col, "bucket", "rep_id", "cos_rep", "keep")
    )


def minhash_lsh_pairs_cross(
    left: DataFrame, right: DataFrame, num_hashes: int = 8, bands: int = 4,
    threshold: float = 0.5, text_col: str = "text", id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Cross-corpus fuzzy-duplicate pairs: (left doc, right doc) sharing any
    LSH band bucket, scored by signature agreement — the *fuzzy* benchmark
    decontamination primitive (exact n-gram contamination misses lightly
    paraphrased or truncated benchmark leaks; MinHash similarity catches
    them).

    Same hash family, banding and scoring as ``minhash_lsh_pairs``
    (``_lsh_banded``); candidates come from ONE shuffle equi-join on the
    band key between the two banded signature tables — when the right
    side is a benchmark suite (small), AQE turns it into a broadcast join
    and the big side never shuffles. Returns (id_l, id_r, est_jaccard >=
    threshold)."""
    bl = _lsh_banded(minhash_signatures(left, num_hashes, text_col, id_col, n),
                     id_col, num_hashes, bands)
    br = _lsh_banded(minhash_signatures(right, num_hashes, text_col, id_col, n),
                     id_col, num_hashes, bands)
    return (
        bl.alias("a").join(br.alias("b"), F.expr("a.b = b.b"))
        .selectExpr("a.id AS id_l", "b.id AS id_r",
                    _est_jaccard_sql(num_hashes))
        .filter(f"est_jaccard >= {float(threshold)!r}D")
        .dropDuplicates(["id_l", "id_r"])
    )


def streaming_semantic_dedup(
    df: DataFrame, threshold: float = 0.7, planes: int = 8,
    emb_col: str = "embedding", id_col: str = "vec_id", max_reps: int = 64,
) -> DataFrame:
    """ONLINE semantic dedup for continuous ingest: a document survives iff
    its cosine to every previously-retained representative in its sign-LSH
    bucket is below ``threshold``; survivors join the representative set
    themselves. The streaming counterpart of ``semantic_dedup`` — which is
    the batch decision table against ONE min-id representative per bucket;
    the online form is first-arrival and multi-representative (state has no
    global min, and a single rep under-deduplicates a drifting stream).
    Documented per-mode survivor semantics, same as exact dedup.

    State per bucket: up to ``max_reps`` unit-normalized rep embeddings in
    one ndarray (stored losslessly); per-row cost is one
    matvec against <= max_reps reps — vectorized per micro-batch. Keyed on
    the bucket, so state shards across executors with bucket cardinality
    (2^planes); rows within a batch are processed in ``id_col`` order for
    determinism. When the rep set is full, later docs still compare against
    the retained reps but no longer extend the set (documented cap)."""
    if not df.isStreaming:
        raise ValueError(
            "streaming_semantic_dedup expects a streaming DataFrame; use "
            "semantic_dedup for batch corpora"
        )
    import numpy as np

    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..streaming.bucketing import keyed_state

    tagged = df.withColumn("__bucket", sign_bucket(emb_col, planes))
    out_schema = T.StructType([f for f in df.schema.fields])
    in_cols = [f.name for f in df.schema.fields]

    def step(key, rows, state):
        reps = state.get if state.exists else None  # (n_reps, dim) unit rows
        frame = rows.frame().sort_values(id_col, kind="mergesort")
        keep_mask = []
        for emb in frame[emb_col]:
            v = np.asarray(emb, dtype=np.float64)
            nv = np.linalg.norm(v)
            if nv == 0.0:
                keep_mask.append(True)  # zero vectors match nothing
                continue
            u = v / nv
            if reps is not None and len(reps) and float(np.max(reps @ u)) >= threshold:
                keep_mask.append(False)
                continue
            keep_mask.append(True)
            if reps is None:
                reps = u[None, :]
            elif len(reps) < max_reps:
                reps = np.vstack([reps, u])
        if reps is not None:
            state.update(reps)
        return list(
            frame.loc[keep_mask, in_cols].itertuples(index=False, name=None)
        )

    return keyed_state(tagged, ["__bucket"], step, out_schema,
                       GroupStateTimeout.NoTimeout, None)


def streaming_contamination_gate(
    stream: DataFrame, bench: DataFrame, num_hashes: int = 8, bands: int = 4,
    text_col: str = "text", id_col: str = "doc_id", n: int = 3,
    keep_contaminated: bool = False,
) -> DataFrame:
    """Gate a document stream against a STATIC benchmark corpus: flag (and
    by default drop) stream docs that share any MinHash-LSH band bucket
    with a benchmark doc — the continuous-ingest form of fuzzy benchmark
    decontamination (``minhash_lsh_pairs_cross`` is the batch/scored form).

    Built to be STATELESS so it runs in append mode with zero streaming
    state; each of the ``bands`` bucket probes is a broadcast hash join
    against the benchmark's per-band bucket table (benchmark suites are
    small; the banded table is computed once and persisted). Per-row
    signatures take the fast path the input allows: a STREAMING input uses
    an in-row fold — 2 md5 calls per shingle materialized once, then cheap
    substring mins (the interpreted-HOF trade statelessness requires); a
    BATCH input uses the whole-stage-codegen exploded pipeline
    (``minhash_signatures``) with flags joined back by id (~10x faster,
    shuffles allowed there). Adds ``contaminated`` (bool) and ``bench_id``
    (a matching benchmark doc id, else null); shingle-less docs never
    match. Same flags in both modes (asserted in tests)."""
    rpb = num_hashes // bands
    sigb = minhash_signatures(bench, num_hashes, text_col, id_col, n)
    sig_cols = [f"sig_{j}" for j in range(num_hashes)]

    def band_keys(sigs: list) -> list:
        # the _lsh_banded keys, one column per band; null for shingle-less
        # docs, which therefore never match
        keys = _band_keys([_sig_bigint(c) for c in sigs], bands, rpb)
        return [
            F.expr(f"CASE WHEN {sigs[0]} IS NOT NULL THEN {k} END").alias(f"__bk{b}")
            for b, k in enumerate(keys)
        ]

    # ONE banded bucket table for the whole benchmark (signatures computed
    # once, not once per band), cached so each per-band broadcast build
    # reads the materialized result instead of re-running the md5 pipeline
    banded = (
        _lsh_banded(sigb, id_col, num_hashes, bands)
        .groupBy("b")
        .agg(F.min("id").alias("__bid"))
        .persist()
    )
    bench_bands = []
    for b in range(bands):
        bench_bands.append(
            F.broadcast(
                banded.filter(F.col("b.band") == b).select(
                    F.col("b").alias(f"__bk{b}"),
                    F.col("__bid").alias(f"__bench_{b}"),
                )
            )
        )
    if stream.isStreaming:
        # stream side: per-row signature with NO shuffle (append-mode
        # requirement). Hash cost is kept minimal for the interpreted HOF
        # path: ONE transform materializes both md5s per shingle into a
        # column (aliased so CollapseProject cannot inline the expensive
        # lambda 8x), then the 8 signature mins are cheap substring folds.
        words = F.split(F.lower(F.col(text_col)), " ")
        sh = F.when(
            F.size(words) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(words) - n),
                lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
            ),
        )
        out = stream.withColumn(
            "__hs",
            F.transform(sh, lambda x: F.concat(F.md5(x), F.md5(F.concat(F.lit("x:"), x)))),
        )
        def _chunk_min(off: int):
            # factory (NOT a default-arg lambda: a 2-arg lambda is bound by
            # pyspark as the (element, index) form and off would receive
            # the array index)
            return F.array_min(
                F.transform(F.col("__hs"), lambda h: F.substring(h, off, 8))
            )

        sig_of = {}
        for j in range(num_hashes):
            sig_of[j] = _chunk_min((32 if j >= 4 else 0) + (j % 4) * 8 + 1)
        out = out.select(
            "*", *[sig_of[j].alias(f"__sig{j}") for j in range(num_hashes)]
        ).drop("__hs")
        out = out.select(
            "*", *band_keys([f"__sig{j}" for j in range(num_hashes)])
        ).drop(*[f"__sig{j}" for j in range(num_hashes)])
    else:
        # batch side: the codegen path — signatures via the exploded
        # top-level-md5 pipeline (whole-stage codegen, ~10x the HOF fold),
        # band keys derived on the signature table, flags joined back
        # by id. Same flags as the streaming fold (asserted in tests).
        sigt = minhash_signatures(stream, num_hashes, text_col, id_col, n)
        flags = sigt.select(F.col(id_col), *band_keys(sig_cols))
        out = stream.join(flags, id_col, "left")
    for b in range(bands):
        out = out.join(bench_bands[b], f"__bk{b}", "left")
    hit = F.coalesce(*[F.col(f"__bench_{b}") for b in range(bands)])
    out = (
        out.withColumn("contaminated", hit.isNotNull())
        .withColumn("bench_id", hit)
        .drop(*[f"__bk{b}" for b in range(bands)])
        .drop(*[f"__bench_{b}" for b in range(bands)])
    )
    if not keep_contaminated:
        out = out.filter(~F.col("contaminated")).drop("contaminated", "bench_id")
    return out


def cluster_size_profile(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_iterations: int = 20,
) -> DataFrame:
    """Duplication profile: one row per near-dup cluster SIZE with how many
    clusters have it and how many documents they hold, plus the size-1 row
    for documents outside any cluster — the histogram that tells you
    whether duplication is a long tail of pairs or a few viral groups
    (which decides caps, star thresholds, and how much dedup will shrink
    the corpus).

    Scale shape: the LSH pair graph and label propagation are the existing
    ``minhash_lsh_pairs``/``dedup_clusters`` plans; everything after runs
    at cluster scale (labels -> sizes -> histogram are two tiny hash
    aggregates), and the singleton row needs only the corpus row count.
    ``max_iterations`` bounds the label-propagation rounds (= max component
    diameter); propagation RAISES rather than silently splitting a deeper
    chain into several clusters (which would skew this whole histogram)."""
    labels = dedup_clusters(
        minhash_lsh_pairs(df, threshold=threshold,
                          text_col=text_col, id_col=id_col),
        max_iterations=max_iterations,
    )
    sizes = labels.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("__sz"))
    hist = sizes.groupBy(F.col("__sz").alias("cluster_size")).agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("__sz").cast("bigint").alias("n_docs"),
    )
    totals = df.agg(F.count(F.lit(1)).alias("__n"))
    in_clusters = labels.agg(F.count(F.lit(1)).alias("__inc"))
    singles = (
        totals.crossJoin(F.broadcast(in_clusters))
        .select(
            F.lit(1).cast("bigint").alias("cluster_size"),
            (F.col("__n") - F.col("__inc")).alias("n_clusters"),
            (F.col("__n") - F.col("__inc")).alias("n_docs"),
        )
        .filter(F.col("n_clusters") > 0)
    )
    return hist.unionByName(singles)
