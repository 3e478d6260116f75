"""Round-3b additions: SemDeDup-style semantic dedup, cross-corpus fuzzy
contamination (MinHash-LSH between two corpora), exact length percentiles,
and the per-group quality top-fraction gate."""

import pytest

from pyspark.sql import functions as F


# ---- semantic dedup ------------------------------------------------------

def _vec(*xs):
    return [float(x) for x in xs]


def test_semantic_dedup_drops_near_rep_keeps_far(spark):
    from flink_siddhi_spark.llm.dedup import semantic_dedup

    # 4-dim embeddings, planes=2 -> bucket from sign of first two coords.
    # ids 1,2,3 share bucket "11"; id 2 is identical to rep (id 1) -> drop;
    # id 3 is orthogonal-ish to rep -> keep. id 9 alone in bucket "01".
    rows = [
        (1, _vec(1, 1, 1, 0)),
        (2, _vec(1, 1, 1, 0)),       # exact copy of rep -> cos 1.0 -> dropped
        (3, _vec(0.1, 0.1, -5, 4)),  # same bucket, far from rep -> kept
        (9, _vec(-1, 1, 0, 0)),      # own bucket -> rep of itself -> kept
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: r for r in semantic_dedup(df, threshold=0.9, planes=2).collect()}
    assert out[1].keep and out[1].rep_id == 1
    assert not out[2].keep and out[2].rep_id == 1 and out[2].cos_rep == 1.0
    assert out[3].keep and out[3].rep_id == 1 and out[3].cos_rep < 0.9
    assert out[9].keep and out[9].rep_id == 9


def test_semantic_dedup_no_self_join_plan(spark):
    from flink_siddhi_spark.llm.dedup import semantic_dedup

    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(10)], "vec_id long, embedding array<float>"
    )
    plan = (
        semantic_dedup(df, planes=2, dim=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # linear shape: broadcast joins only — a SortMergeJoin or NestedLoop
    # would mean the corpus self-joined somewhere
    assert "SortMergeJoin" not in plan and "NestedLoop" not in plan
    assert "BroadcastHashJoin" in plan


# ---- cross-corpus fuzzy contamination ------------------------------------

def test_minhash_cross_finds_cross_corpus_dup_only(spark):
    from flink_siddhi_spark.llm.dedup import minhash_lsh_pairs_cross

    text = "the quick brown fox jumps over the lazy dog again and again"
    other = "completely different words about spark catalyst shuffles here"
    train = spark.createDataFrame(
        [(1, text), (2, other), (3, text)],  # 1 and 3 duplicates INSIDE train
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(100, text)], "doc_id long, text string")
    pairs = {
        (r.id_l, r.id_r): r.est_jaccard
        for r in minhash_lsh_pairs_cross(train, bench, threshold=0.5).collect()
    }
    # both train copies flagged against the benchmark doc; the intra-train
    # duplicate pair (1,3) must NOT appear — this is a cross join surface
    assert pairs == {(1, 100): 1.0, (3, 100): 1.0}


def test_minhash_cross_no_pairs_when_disjoint(spark):
    from flink_siddhi_spark.llm.dedup import minhash_lsh_pairs_cross

    train = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "one two three four five six seven eight")],
        "doc_id long, text string",
    )
    assert minhash_lsh_pairs_cross(train, bench, threshold=0.3).count() == 0


_LSH_BASE = "the quick brown fox jumps over the lazy dog near the river bank"


def _lsh_corpus(spark):
    """Near-duplicates of one sentence (one word swapped per copy), an
    exact copy, unrelated docs and three shingle-less docs (1, 2, 5)."""
    words = _LSH_BASE.split()
    rows = [(1, "a b"), (2, "x y"), (5, "q"), (10, _LSH_BASE), (11, _LSH_BASE)]
    for i in range(6):
        w = list(words)
        w[2 * i] = f"swap{i}"
        rows.append((20 + i, " ".join(w)))
    rows += [
        (40, "spark catalyst plans shuffle stages across executor tasks"),
        (41, "spark catalyst plans shuffle stages across executor slots"),
        (42, "completely unrelated words about gardening in early spring"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_lsh_shingleless_docs_never_pair(spark):
    """Docs without shingles have null signatures; a band key built from
    nulls must not make them candidates of each other (or of themselves)
    at threshold 0.0, on any of the three LSH paths."""
    from flink_siddhi_spark.llm.dedup import (
        minhash_lsh_pairs,
        minhash_lsh_pairs_cross,
        streaming_contamination_gate,
    )

    docs = _lsh_corpus(spark)
    empty = {1, 2, 5}
    self_pairs = {(r.id_a, r.id_b) for r in
                  minhash_lsh_pairs(docs, threshold=0.0).collect()}
    cross_pairs = {(r.id_l, r.id_r) for r in
                   minhash_lsh_pairs_cross(docs, docs, threshold=0.0).collect()}
    assert (10, 11) in self_pairs and (10, 10) in cross_pairs
    assert not {i for p in self_pairs for i in p} & empty, self_pairs
    assert not {i for p in cross_pairs for i in p} & empty, cross_pairs
    flags = streaming_contamination_gate(docs, docs, keep_contaminated=True)
    got = {r.doc_id: r.contaminated for r in flags.collect()}
    assert [got[i] for i in sorted(empty)] == [False, False, False]


def test_minhash_cross_self_equals_self_join(spark):
    # one banding and one score: the cross path over (docs, docs), upper
    # triangle only, is the self-join's pair set with the same estimates
    from flink_siddhi_spark.llm.dedup import (
        minhash_lsh_pairs,
        minhash_lsh_pairs_cross,
    )

    docs = _lsh_corpus(spark)
    for threshold in (0.0, 0.5):
        want = sorted(
            (r.id_a, r.id_b, r.est_jaccard)
            for r in minhash_lsh_pairs(docs, threshold=threshold).collect()
        )
        got = sorted(
            (r.id_l, r.id_r, r.est_jaccard)
            for r in minhash_lsh_pairs_cross(docs, docs, threshold=threshold)
            .filter("id_l < id_r").collect()
        )
        assert got == want and len(want) >= 10, (threshold, got, want)


def test_contamination_gate_flags_equal_cross_candidates(spark):
    # the gate flags exactly the train docs sharing a band key with a
    # benchmark doc: the id_l set of the cross path at threshold 0.0
    from flink_siddhi_spark.llm.dedup import (
        minhash_lsh_pairs_cross,
        streaming_contamination_gate,
    )

    docs = _lsh_corpus(spark)
    bench = docs.filter("doc_id IN (1, 10, 23, 40)").withColumn(
        "doc_id", docs.doc_id + 1000
    )
    train = docs.filter("doc_id < 40 OR doc_id = 42")
    flagged = {
        r.doc_id for r in
        streaming_contamination_gate(train, bench, keep_contaminated=True)
        .filter("contaminated").collect()
    }
    cand = {r.id_l for r in
            minhash_lsh_pairs_cross(train, bench, threshold=0.0).collect()}
    assert flagged == cand and {10, 11, 23} <= cand, (flagged, cand)


# ---- exact length percentiles --------------------------------------------

def test_length_percentiles_match_numpy(spark):
    import numpy as np

    from flink_siddhi_spark.llm.text import length_percentiles

    lengths = [3, 5, 8, 13, 21, 34, 55]
    rows = [(i, " ".join(["w"] * n), "s") for i, n in enumerate(lengths)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    row = length_percentiles(df, by="source", ps=(0.5, 0.9)).collect()[0]
    assert row.n_docs == len(lengths)
    assert row.p50 == pytest.approx(float(np.percentile(lengths, 50)), abs=1e-6)
    assert row.p90 == pytest.approx(float(np.percentile(lengths, 90)), abs=1e-6)


# ---- quality top-fraction gate -------------------------------------------

def test_quality_top_fraction_per_group_ceil(spark):
    from flink_siddhi_spark.llm.pipeline import quality_top_fraction

    # group a: 10 rows, scores 0..9 -> ceil(10*0.3)=3 kept (scores 9,8,7)
    # group b: 1 row -> ceil(1*0.3)=1 kept
    rows = [(i, "a", float(i)) for i in range(10)] + [(100, "b", 0.5)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, quality double")
    kept = quality_top_fraction(df, frac=0.3, by="lang", score_col="quality").collect()
    by_lang = {}
    for r in kept:
        by_lang.setdefault(r.lang, set()).add(r.doc_id)
    assert by_lang == {"a": {9, 8, 7}, "b": {100}}


def test_quality_top_fraction_tie_break_by_id(spark):
    from flink_siddhi_spark.llm.pipeline import quality_top_fraction

    # all scores equal -> lowest ids win deterministically
    df = spark.createDataFrame(
        [(i, "a", 1.0) for i in (5, 3, 9, 1)], "doc_id long, lang string, quality double"
    )
    kept = quality_top_fraction(df, frac=0.5, by="lang", score_col="quality")
    assert {r.doc_id for r in kept.collect()} == {1, 3}


def test_quality_top_fraction_rejects_bad_frac(spark):
    from flink_siddhi_spark.llm.pipeline import quality_top_fraction

    df = spark.createDataFrame([(1, "a", 1.0)], "doc_id long, lang string, quality double")
    with pytest.raises(ValueError, match="frac"):
        quality_top_fraction(df, frac=0.0)
    with pytest.raises(ValueError, match="frac"):
        quality_top_fraction(df, frac=1.5)


# ---- streaming semantic dedup --------------------------------------------

def test_streaming_semantic_dedup_cross_batch(spark, tmp_path):
    """A doc semantically equal (cos >= threshold) to a representative kept
    in an EARLIER micro-batch is suppressed by the bucket's rep state; a
    far doc in the same bucket survives and becomes a rep itself."""
    from flink_siddhi_spark.llm.dedup import streaming_semantic_dedup
    from flink_siddhi_spark.sources.streams import to_memory

    d = str(tmp_path / "in_semdedup")
    schema = "vec_id long, embedding array<double>"
    spark.createDataFrame(
        [(1, [1.0, 1.0, 1.0, 0.0]), (2, [-1.0, 1.0, 0.0, 1.0])], schema
    ).coalesce(1).write.mode("overwrite").parquet(d)
    spark.createDataFrame(
        [(3, [2.0, 2.0, 2.0, 0.0]),      # same direction as rep 1 -> dropped
         (4, [0.1, 0.1, -5.0, 4.0])],    # same bucket as 1, far -> kept
        schema,
    ).coalesce(1).write.mode("append").parquet(d)
    stream = (
        spark.readStream.format("parquet").schema(schema)
        .option("maxFilesPerTrigger", 1).load(d)
    )
    out = streaming_semantic_dedup(stream, threshold=0.9, planes=2)
    q = to_memory(out.select("vec_id"), "m_semdedup",
                  checkpoint=str(tmp_path / "ck_semdedup"))
    q.awaitTermination(60)
    got = {r.vec_id for r in spark.sql("SELECT * FROM m_semdedup").collect()}
    assert got == {1, 2, 4}


def test_streaming_semantic_dedup_rejects_batch(spark):
    from flink_siddhi_spark.llm.dedup import streaming_semantic_dedup

    df = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="batch"):
        streaming_semantic_dedup(df)


def test_streaming_semantic_dedup_state_restored_across_restart(spark, tmp_path):
    """Rep state survives a checkpoint restart: a near-dup of a PRE-restart
    representative arriving after the restart is still dropped."""
    import os

    from flink_siddhi_spark.llm.dedup import streaming_semantic_dedup
    from flink_siddhi_spark.sources.streams import to_files

    src = tmp_path / "src_semdd"
    os.makedirs(src)
    schema = "vec_id long, embedding array<double>"
    spark.createDataFrame(
        [(1, [1.0, 1.0, 1.0, 0.0])], schema
    ).coalesce(1).write.parquet(str(src / "f1"))
    out = tmp_path / "out_semdd"

    def run():
        stream = spark.readStream.schema(schema).parquet(str(src) + "/*/")
        dd = streaming_semantic_dedup(stream, threshold=0.9, planes=2)
        sq = to_files(dd.select("vec_id"), str(out),
                      checkpoint=str(tmp_path / "ck_semdd"), fmt="parquet")
        sq.awaitTermination(60)
        return sorted(r.vec_id for r in spark.read.parquet(str(out)).collect())

    assert run() == [1]
    spark.createDataFrame(
        [(5, [3.0, 3.0, 3.0, 0.0])], schema  # same direction as restored rep
    ).coalesce(1).write.parquet(str(src / "f2"))
    assert run() == [1]  # 5 suppressed by the restored rep state


# ---- quartz day-of-week lists/ranges in #window.cron ---------------------

def test_cron_dow_set_parsing():
    from flink_siddhi_spark.operators.windows import _dow_set

    assert _dow_set("MON,WED,FRI") == {2, 4, 6}
    assert _dow_set("MON-FRI") == {2, 3, 4, 5, 6}
    assert _dow_set("FRI-MON") == {6, 7, 1, 2}  # wrapping range
    assert _dow_set("2,4") == {2, 4}
    assert _dow_set("L") == {7}  # bare L in the dow field = quartz SAT (r4)
    assert _dow_set("MON#2") is None  # #n handled by _dom_specs, not here


def test_cron_weekday_range_buckets(spark):
    """MON-FRI at midnight: Sat/Sun events fall into Friday's bucket; each
    weekday opens its own."""
    from flink_siddhi_spark.cep import SiddhiCEP

    # 1997-06-02 is a Monday. events on Mon, Tue, Sat, Sun -> Sat+Sun join
    # Friday's bucket (1997-06-06).
    def ems(day, hour=12):
        import datetime as dt

        return int(dt.datetime(1997, 6, day, hour, tzinfo=dt.timezone.utc)
                   .timestamp() * 1000)

    rows = [(1, "a", 1.0, ems(2)), (2, "a", 1.0, ems(3)),
            (3, "a", 1.0, ems(7)), (4, "a", 1.0, ems(8))]
    df = spark.createDataFrame(rows, "id long, name string, v double, ts long")
    cep = SiddhiCEP(spark)
    cep.define("s", df, "id", "name", "v", "ts", ts_field="ts")
    out = cep.from_("s").cql(
        "from s#window.cron('0 0 0 ? * MON-FRI') "
        "select name, count() as n group by name insert into Out"
    ).returns("Out")
    # buckets: Mon(1), Tue(1), Fri(2 — the weekend rows) -> three rows
    assert sorted(r.n for r in out.collect()) == [1, 1, 2]


def test_cron_unbounded_gap_schedules_rejected(spark):
    # round-4 turned the quartz specials (L/LW/D#n/DL) into supported
    # bucket functions; what must still reject is any schedule whose fire
    # gap is unbounded (lookback cannot be bounded at plan time)
    from flink_siddhi_spark.cep import SiddhiCEP
    from flink_siddhi_spark.errors import UnsupportedFeatureException

    df = spark.createDataFrame([(1, 1000)], "id long, ts long")
    cep = SiddhiCEP(spark)
    cep.define("s", df, "id", "ts", ts_field="ts")
    out = cep.from_("s").cql(
        "from s#window.cron('0 0 0 ? * 6L') "
        "select count() as n insert into Out"
    ).returns("Out")
    assert [r.n for r in out.collect()] == [1]
    with pytest.raises(UnsupportedFeatureException, match="29-31|5th"):
        cep.from_("s").cql(
            "from s#window.cron('0 0 0 29 FEB ?') "
            "select count() as n insert into Out"
        ).returns("Out")


# ---- streaming contamination gate ----------------------------------------

_BENCH_TEXT = "the quick brown fox jumps over the lazy dog again and again"


def test_contamination_gate_batch_flags(spark):
    from flink_siddhi_spark.llm.dedup import streaming_contamination_gate

    bench = spark.createDataFrame([(100, _BENCH_TEXT)], "doc_id long, text string")
    docs = spark.createDataFrame(
        [(1, _BENCH_TEXT), (2, "totally unrelated words about catalyst planners here"),
         (3, "x")],  # shingle-less -> never matches
        "doc_id long, text string",
    )
    out = streaming_contamination_gate(docs, bench, keep_contaminated=True)
    got = {r.doc_id: (r.contaminated, r.bench_id) for r in out.collect()}
    assert got == {1: (True, 100), 2: (False, None), 3: (False, None)}
    # default mode drops contaminated rows and the flag columns
    kept = streaming_contamination_gate(docs, bench)
    assert {r.doc_id for r in kept.collect()} == {2, 3}
    assert "contaminated" not in kept.columns


def test_contamination_gate_is_stateless_broadcast_only(spark, tmp_path):
    from flink_siddhi_spark.llm.dedup import streaming_contamination_gate

    bench = spark.createDataFrame([(100, _BENCH_TEXT)], "doc_id long, text string")
    d = str(tmp_path / "plan_gate")
    spark.createDataFrame([(1, _BENCH_TEXT)], "doc_id long, text string")\
        .write.mode("overwrite").parquet(d)
    stream = spark.readStream.schema("doc_id long, text string").parquet(d)
    out = streaming_contamination_gate(stream, bench, keep_contaminated=True)
    # optimizedPlan/executedPlan refuse un-started streaming queries; the
    # analyzed logical plan exposes the same operator structure
    plan = out._jdf.queryExecution().analyzed().toString()
    # STREAM-side statelessness: no aggregation/repartition anywhere in the
    # streaming query — bucket probes are plain (broadcastable) joins; the
    # only Aggregates allowed are on the static bench subtrees
    assert "RepartitionByExpression" not in plan, plan
    assert plan.count("Join LeftOuter") == 4, plan
    # no stateful operator: the streaming side never aggregates (the three
    # Aggregate nodes in the plan belong to the static bench sig pipeline)
    stream_side = plan.split("Join LeftOuter")[0]
    assert "Aggregate" not in stream_side, plan


def test_contamination_gate_on_stream(spark, tmp_path):
    from flink_siddhi_spark.llm.dedup import streaming_contamination_gate
    from flink_siddhi_spark.sources.streams import to_memory

    bench = spark.createDataFrame([(100, _BENCH_TEXT)], "doc_id long, text string")
    d = str(tmp_path / "in_gate")
    schema = "doc_id long, text string"
    spark.createDataFrame([(1, _BENCH_TEXT)], schema)\
        .coalesce(1).write.mode("overwrite").parquet(d)
    spark.createDataFrame([(2, "clean novel content words entirely new here today")], schema)\
        .coalesce(1).write.mode("append").parquet(d)
    stream = (
        spark.readStream.format("parquet").schema(schema)
        .option("maxFilesPerTrigger", 1).load(d)
    )
    q = to_memory(
        streaming_contamination_gate(stream, bench).select("doc_id"),
        "m_gate", checkpoint=str(tmp_path / "ck_gate"),
    )
    q.awaitTermination(60)
    got = {r.doc_id for r in spark.sql("SELECT * FROM m_gate").collect()}
    assert got == {2}  # the benchmark copy was gated out mid-stream


# ---- hash-embedding generation stage -------------------------------------

def test_hash_embeddings_deterministic_and_bounded(spark):
    from flink_siddhi_spark.llm.pipeline import hash_embeddings

    df = spark.createDataFrame([(1, "alpha"), (2, "beta")], "doc_id long, text string")
    out = {r.doc_id: r.embedding for r in hash_embeddings(df, dim=8).collect()}
    assert len(out[1]) == 8
    assert all(-1.0 <= v < 1.0 for v in out[1])
    # deterministic: same text -> same vector; different text -> different
    again = {r.doc_id: r.embedding for r in hash_embeddings(df, dim=8).collect()}
    assert out == again and out[1] != out[2]
    with pytest.raises(ValueError, match="dim"):
        hash_embeddings(df, dim=0)


def test_hash_embeddings_compose_with_semantic_dedup(spark):
    """The pipeline composition the stage exists for: text -> embed ->
    semantic dedup. Identical texts get identical vectors -> cos 1.0 ->
    the later copy is dropped."""
    from flink_siddhi_spark.llm.dedup import semantic_dedup
    from flink_siddhi_spark.llm.pipeline import hash_embeddings

    df = spark.createDataFrame(
        [(1, "same text here"), (2, "same text here"), (3, "another document")],
        "doc_id long, text string",
    )
    emb = hash_embeddings(df, dim=16)
    out = {r.doc_id: r.keep for r in
           semantic_dedup(emb, threshold=0.999, planes=2, id_col="doc_id",
                          emb_col="embedding").collect()}
    assert out[1] and not out[2]


def test_cron_monthly_list_buckets(spark):
    """'0 0 0 1,15 * ?' — semimonthly fires: events split at the 15th."""
    from flink_siddhi_spark.cep import SiddhiCEP

    def ems(month, day):
        import datetime as dt

        return int(dt.datetime(1997, month, day, 12, tzinfo=dt.timezone.utc)
                   .timestamp() * 1000)

    rows = [(1, "a", 1.0, ems(6, 2)), (2, "a", 1.0, ems(6, 14)),   # bucket 6/1
            (3, "a", 1.0, ems(6, 16)), (4, "a", 1.0, ems(6, 28)),  # bucket 6/15
            (5, "a", 1.0, ems(7, 3))]                              # bucket 7/1
    df = spark.createDataFrame(rows, "id long, name string, v double, ts long")
    cep = SiddhiCEP(spark)
    cep.define("s", df, "id", "name", "v", "ts", ts_field="ts")
    out = cep.from_("s").cql(
        "from s#window.cron('0 0 0 1,15 * ?') "
        "select name, count() as n group by name insert into Out"
    ).returns("Out")
    assert sorted(r.n for r in out.collect()) == [1, 2, 2]


def test_cron_monthly_range_supported_daily_restricted_rejected(spark):
    # round-4: day-of-month RANGES are supported (expand to day lists);
    # month-restricted daily schedules remain the rejected long tail
    from flink_siddhi_spark.cep import SiddhiCEP
    from flink_siddhi_spark.errors import UnsupportedFeatureException

    df = spark.createDataFrame([(1, 1000)], "id long, ts long")
    cep = SiddhiCEP(spark)
    cep.define("s", df, "id", "ts", ts_field="ts")
    out = cep.from_("s").cql(
        "from s#window.cron('0 0 0 1-5 * ?') select count() as n insert into Out"
    ).returns("Out")
    assert [r.n for r in out.collect()] == [1]
    with pytest.raises(UnsupportedFeatureException, match="cron"):
        cep.from_("s").cql(
            "from s#window.cron('0 0 0 * 6 ?') select count() as n insert into Out"
        ).returns("Out")


def test_bpe_piece_count(spark):
    from flink_siddhi_spark.llm.text import token_count

    df = spark.createDataFrame([(1, "Hello, world! It's 42 degrees")], "doc_id long, text string")
    r = token_count(df).collect()[0]
    # pieces: Hello | , | ' world' | '!' | ' It' | 's | ' 42' | ' degrees'
    assert r.n_bpe_pieces == 8
    assert r.n_tokens == 5


def test_semantic_dedup_score_picked_rep(spark):
    """With score_col, the highest-quality member becomes the cluster rep
    (ties -> min id), so the KEPT doc is the best one."""
    from flink_siddhi_spark.llm.dedup import semantic_dedup

    rows = [
        (1, _vec(1, 1, 1, 0), 0.2),
        (2, _vec(1, 1, 1, 0), 0.9),   # same bucket, higher quality -> rep
        (3, _vec(1, 1, 0.9, 0), 0.9),  # ties with 2 -> min id (2) stays rep
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, quality double")
    out = {r.vec_id: r for r in
           semantic_dedup(df, threshold=0.9, planes=2, score_col="quality").collect()}
    assert out[2].keep and out[2].rep_id == 2
    assert not out[1].keep and out[1].rep_id == 2  # dup of the better doc
    assert not out[3].keep


# ---- LSH recall quality gate ---------------------------------------------

def test_minhash_lsh_recall_against_exact(spark, sf_dir):
    """Measure, don't guess: the default LSH config (8 hashes, 4 bands,
    est >= 0.5) must recover essentially every true near-dup pair that
    exact n-gram Jaccard finds at >= 0.8 on the test corpus."""
    from flink_siddhi_spark.llm.dedup import minhash_lsh_pairs, ngram_jaccard_pairs
    from flink_siddhi_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    exact = {(r.id_a, r.id_b) for r in
             ngram_jaccard_pairs(docs, threshold=0.8).collect()}
    lsh = {(r.id_a, r.id_b) for r in
           minhash_lsh_pairs(docs, threshold=0.5).collect()}
    assert exact, "test corpus must contain true near-dup pairs"
    recall = len(exact & lsh) / len(exact)
    assert recall >= 0.9, (recall, len(exact), len(lsh))


# ---- window-processor extensions -----------------------------------------

def test_window_extension_buckets_and_rejections(spark):
    from flink_siddhi_spark.cep import SiddhiCEP
    from flink_siddhi_spark.errors import UnsupportedFeatureException

    rows = [(1, "a", 1.0, 0), (2, "a", 1.0, 5000), (3, "a", 1.0, 12000),
            (4, "b", 1.0, 13000)]
    df = spark.createDataFrame(rows, "id int, name string, price double, ts long")
    cep = SiddhiCEP(spark)
    cep.define("s", df, "id", "name", "price", "ts", ts_field="ts")
    cep.register_extension("custom:tenSec", lambda ts: F.floor(ts / F.lit(10_000)),
                           window=True)
    out = cep.from_("s").cql(
        "from s#window.custom:tenSec() select name, count() as n "
        "group by name insert into Out"
    ).returns("Out")
    # [0,10s): ids 1,2 (a) | [10s,20s): id 3 (a), id 4 (b)
    assert sorted((r.name, r.n) for r in out.collect()) == [("a", 1), ("a", 2), ("b", 1)]
    # unregistered namespaced window -> clean plan-time error
    with pytest.raises(UnsupportedFeatureException, match="not registered"):
        cep.from_("s").cql(
            "from s#window.custom:nope() select count() as n insert into Out"
        ).returns("Out")
    # an extension cannot be both kinds
    with pytest.raises(ValueError, match="not both"):
        cep.register_extension("custom:bad", lambda c: c, aggregate=True, window=True)


def test_window_extension_streaming_matches_batch(spark, tmp_path):
    """round-4: window-processor extensions run in STREAMING too — the
    bucket column groups an update/complete-mode aggregation, matching the
    batch bucketed protocol across >=2 micro-batches (maxFilesPerTrigger=1
    over two input files)."""
    from flink_siddhi_spark.cep import SiddhiCEP
    from flink_siddhi_spark.siddhiql.parser import parse
    from flink_siddhi_spark.sources.streams import to_memory
    from flink_siddhi_spark.streaming.runtime import StreamingPlanner

    schema = "id int, name string, price double, ts long"
    rows = [(1, "a", 1.0, 0), (2, "a", 2.0, 5000), (3, "a", 3.0, 12000),
            (4, "b", 4.0, 13000), (5, "b", 5.0, 21000)]
    cql = ("from s#window.custom:tenSec() select name, count() as n, "
           "sum(price) as total group by name insert into Out")

    # batch reference
    bdf = spark.createDataFrame(rows, schema)
    bcep = SiddhiCEP(spark)
    bcep.define("s", bdf, "id", "name", "price", "ts", ts_field="ts")
    bcep.register_extension("custom:tenSec", lambda ts: F.floor(ts / F.lit(10_000)),
                            window=True)
    batch = sorted(tuple(r) for r in
                   bcep.from_("s").cql(cql).returns("Out").collect())

    # streaming: two files, one per trigger -> at least two micro-batches
    d = tmp_path / "winext"
    d.mkdir()
    spark.createDataFrame(rows[:3], schema).coalesce(1).write.parquet(str(d / "f1"))
    spark.createDataFrame(rows[3:], schema).coalesce(1).write.parquet(str(d / "f2"))
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(d / "f*")))
    cep = SiddhiCEP(spark)
    cep.register_stream("s", stream, "id", "name", "price", "ts", ts_field="ts")
    cep.register_extension("custom:tenSec", lambda ts: F.floor(ts / F.lit(10_000)),
                           window=True)
    planner = StreamingPlanner(cep.catalog, cep.extensions)
    out_df = planner.compile_query(parse(cql).queries[0])
    q = to_memory(out_df, "m_winext", checkpoint=str(tmp_path / "ck_winext"),
                  output_mode="complete")
    q.awaitTermination(60)
    assert q.lastProgress is not None and q.lastProgress["batchId"] >= 1
    got = sorted(tuple(r) for r in spark.sql("SELECT * FROM m_winext").collect())
    assert got == batch


# ---- stream-function extensions ------------------------------------------

def test_stream_fn_extension_tokenize_and_compose(spark):
    from flink_siddhi_spark.cep import SiddhiCEP
    from flink_siddhi_spark.errors import UnsupportedFeatureException

    df = spark.createDataFrame(
        [(1, "a b c", 1.0, 1000), (2, "d e", 2.0, 2000)],
        "id int, text string, price double, ts long",
    )
    cep = SiddhiCEP(spark)
    cep.define("s", df, "id", "text", "price", "ts", ts_field="ts")
    cep.register_extension(
        "str:tokenize",
        lambda d, col: d.withColumn("token", F.explode(F.split(F.col(col), " "))),
        stream_function=True,
    )
    out = cep.from_("s").cql(
        "from s[price > 0.0]#str:tokenize(text) select id, token insert into Out"
    ).returns("Out")
    assert sorted((r.id, r.token) for r in out.collect()) == [
        (1, "a"), (1, "b"), (1, "c"), (2, "d"), (2, "e")
    ]
    # composes with a window after it (tokens aggregate per bucket)
    out2 = cep.from_("s").cql(
        "from s#str:tokenize(text)#window.timeBatch(10 sec) "
        "select count() as n insert into Out"
    ).returns("Out")
    assert [r.n for r in out2.collect()] == [5]
    # unregistered / wrong-kind names reject at plan time
    with pytest.raises(UnsupportedFeatureException, match="not registered"):
        cep.from_("s").cql(
            "from s#str:nope(text) select id insert into Out"
        ).returns("Out")


def test_stream_fn_dropping_declared_field_rejected(spark):
    from flink_siddhi_spark.cep import SiddhiCEP
    from flink_siddhi_spark.errors import SiddhiPlannerException

    df = spark.createDataFrame([(1, 1000)], "id int, ts long")
    cep = SiddhiCEP(spark)
    cep.define("s", df, "id", "ts", ts_field="ts")
    cep.register_extension(
        "bad:dropper", lambda d: d.drop("id"), stream_function=True
    )
    with pytest.raises(SiddhiPlannerException, match="dropped declared"):
        cep.from_("s").cql(
            "from s#bad:dropper() select ts insert into Out"
        ).returns("Out")


def test_stream_fn_extension_works_on_stream(spark, tmp_path):
    """Stream functions inherit the streaming single-input path: the
    tokenizer multiplies rows mid-stream, filter composes before it."""
    from flink_siddhi_spark.cep import SiddhiCEP
    from flink_siddhi_spark.siddhiql.parser import parse
    from flink_siddhi_spark.sources.streams import to_memory
    from flink_siddhi_spark.streaming.runtime import StreamingPlanner

    d = str(tmp_path / "in_sfn")
    schema = "id int, text string, price double, ts long"
    spark.createDataFrame(
        [(1, "a b", 1.0, 1000), (2, "skip me", 0.0, 2000), (3, "c", 2.0, 3000)],
        schema,
    ).coalesce(1).write.mode("overwrite").parquet(d)
    stream = spark.readStream.schema(schema).parquet(d)
    cep = SiddhiCEP(spark)
    cep.register_stream("s", stream, "id", "text", "price", "ts", ts_field="ts")
    cep.register_extension(
        "str:tokenize",
        lambda df, col: df.withColumn("token", F.explode(F.split(F.col(col), " "))),
        stream_function=True,
    )
    planner = StreamingPlanner(cep.catalog, cep.extensions)
    out = planner.compile_query(parse(
        "from s[price > 0.5]#str:tokenize(text) select id, token insert into Out"
    ).queries[0])
    q = to_memory(out, "m_sfn", checkpoint=str(tmp_path / "ck_sfn"))
    q.awaitTermination(60)
    got = sorted((r.id, r.token) for r in spark.sql("SELECT * FROM m_sfn").collect())
    assert got == [(1, "a"), (1, "b"), (3, "c")]
