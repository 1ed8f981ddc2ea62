"""Training-mix assembly operators (operators/mixing): eval-set
decontamination and deterministic weighted sampling."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_spark.operators.mixing import decontaminate, portable_uniform, weighted_sample
from tests.plan_util import plan_text


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_decontaminate_flags_overlapping_grams(spark):
    bench = _docs(spark, [(100, "the quick brown fox jumps")])
    train = _docs(
        spark,
        [
            (1, "a quick brown fox here"),        # shares "quick brown fox"
            (2, "totally clean document text"),   # no overlap
            (3, ""),                              # empty: 0 grams, kept
            (4, "two words"),                     # < n words: 0 grams, kept
            (5, "QUICK Brown FOX jumps high"),    # case-insensitive match (2 grams)
        ],
    )
    out = {r["doc_id"]: r for r in decontaminate(train, bench, n=3).collect()}
    assert out[1]["n_contaminated"] == 1 and not out[1]["keep"]
    assert out[1]["n_grams"] == 3
    assert out[2]["n_contaminated"] == 0 and out[2]["keep"]
    assert out[3]["n_grams"] == 0 and out[3]["n_contaminated"] == 0 and out[3]["keep"]
    assert out[4]["n_grams"] == 0 and out[4]["keep"]
    assert out[5]["n_contaminated"] == 2 and not out[5]["keep"]


def test_decontaminate_min_overlaps_and_distinct_counting(spark):
    bench = _docs(spark, [(100, "the quick brown fox jumps")])
    # the matching gram repeats, but distinct-gram counting sees ONE overlap
    train = _docs(spark, [(1, "quick brown fox quick brown fox")])
    one = decontaminate(train, bench, n=3).collect()[0]
    assert one["n_contaminated"] == 1 and not one["keep"]
    two = decontaminate(train, bench, n=3, min_overlaps=2).collect()[0]
    assert two["keep"]  # below the threshold now


def test_weighted_sample_integer_and_zero_weights(spark):
    rows = [(i, "src0" if i % 2 == 0 else "srcZ") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    weights = spark.createDataFrame([("src0", 2.0), ("srcZ", 0.0)], ["source", "weight"])
    out = weighted_sample(docs, weights).collect()
    assert all(r["source"] == "src0" for r in out)          # srcZ dropped
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r["copy"])
    assert len(by_doc) == 20
    assert all(sorted(v) == [0, 1] for v in by_doc.values())  # exactly 2 copies


def test_weighted_sample_fractional_default_and_determinism(spark):
    rows = [(i, f"src{i % 3}") for i in range(300)]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    weights = spark.createDataFrame([("src0", 2.5), ("src1", 0.25)], ["source", "weight"])
    a = sorted((r["doc_id"], r["copy"]) for r in weighted_sample(docs, weights, seed=7).collect())
    b = sorted((r["doc_id"], r["copy"]) for r in weighted_sample(docs, weights, seed=7).collect())
    assert a == b  # reproducible from (seed, id) alone
    per_src = {}
    for doc_id, copy in a:
        src = f"src{doc_id % 3}"
        per_src.setdefault(src, {}).setdefault(doc_id, 0)
        per_src[src][doc_id] = max(per_src[src][doc_id], copy + 1)
    # src0: every doc 2 or 3 copies; src1: subsampled below half; src2 (absent
    # from weights): exactly one copy per doc at the 1.0 default
    assert set(per_src["src0"].values()) <= {2, 3} and 3 in set(per_src["src0"].values())
    assert 0 < len(per_src["src1"]) < 50
    assert len(per_src["src2"]) == 100 and set(per_src["src2"].values()) == {1}
    # copy indices are contiguous from 0
    copies = {}
    for doc_id, copy in a:
        copies.setdefault(doc_id, []).append(copy)
    assert all(sorted(v) == list(range(len(v))) for v in copies.values())


def test_weighted_sample_rejects_out_of_range_weights(spark):
    docs = spark.createDataFrame([(1, "s")], "doc_id long, source string")
    for w in (-0.5, 65.0):
        weights = spark.createDataFrame([("s", w)], ["source", "weight"])
        with pytest.raises(ValueError):
            weighted_sample(docs, weights)
    ok = spark.createDataFrame([("s", 1.0)], ["source", "weight"])
    with pytest.raises(ValueError):
        weighted_sample(docs, ok, default_weight=-1.0)


def test_portable_uniform_is_uniform_enough(spark):
    df = spark.range(2000).select(portable_uniform("id", seed=3).alias("u"))
    row = df.agg(
        F.min("u").alias("lo"), F.max("u").alias("hi"), F.avg("u").alias("mu")
    ).collect()[0]
    assert 0.0 <= row["lo"] and row["hi"] < 1.0
    assert abs(row["mu"] - 0.5) < 0.03


def test_split_corpus_labels_and_stability(spark):
    from ocr_spark.operators.mixing import split_corpus

    docs = spark.range(2000).withColumnRenamed("id", "doc_id")
    out = {r["doc_id"]: r["split"] for r in split_corpus(
        docs, fractions={"train": 0.75, "val": 0.125, "test": 0.125}, seed=11
    ).collect()}
    assert len(out) == 2000 and set(out.values()) == {"train", "val", "test"}
    counts = {s: sum(1 for v in out.values() if v == s) for s in ("train", "val", "test")}
    assert abs(counts["train"] / 2000 - 0.75) < 0.05
    assert abs(counts["val"] / 2000 - 0.125) < 0.03
    # growth stability: the label is a pure function of (fractions, seed, id),
    # so a half-size corpus assigns the SAME labels to the shared ids
    half = {r["doc_id"]: r["split"] for r in split_corpus(
        spark.range(1000).withColumnRenamed("id", "doc_id"),
        fractions={"train": 0.75, "val": 0.125, "test": 0.125}, seed=11
    ).collect()}
    assert all(out[i] == half[i] for i in half)


def test_split_corpus_validates_fractions(spark):
    from ocr_spark.operators.mixing import split_corpus

    docs = spark.range(3).withColumnRenamed("id", "doc_id")
    with pytest.raises(ValueError):
        split_corpus(docs, fractions={"a": 0.5, "b": 0.4})
    with pytest.raises(ValueError):
        split_corpus(docs, fractions={"a": 1.5, "b": -0.5})
    with pytest.raises(ValueError):
        split_corpus(docs, fractions={"a": float("nan"), "b": 0.5, "c": 0.5})
    with pytest.raises(ValueError):
        split_corpus(docs, fractions={})  # empty dict is an error, not the default


def test_top_ngrams_counts_and_ties(spark):
    from ocr_spark.operators.curation import top_ngrams

    docs = _docs(spark, [
        (1, "a b c a b c"),      # "a b c" x2, "b c a", "c a b"
        (2, "a b c"),            # "a b c" once more
        (3, "x y z"),
        (4, ""),
    ])
    rows = top_ngrams(docs, n=3, k=3).collect()
    assert [(r["gram"], r["n_occurrences"]) for r in rows] == [
        ("a b c", 3), ("b c a", 1), ("c a b", 1)  # ties broken gram-ascending
    ]
    plan = plan_text(top_ngrams(docs, n=3, k=3))
    assert "TakeOrderedAndProject" in plan, plan[:1500]  # never a global sort


def test_mix_job_end_to_end(spark, tmp_path, monkeypatch):
    """The packaged mix job: decontaminate -> weighted sample -> stats,
    exercised through its argv interface against the active session."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    import mix_job

    rows = [
        (1, "srcA", "the quick brown fox jumps over the lazy dog"),  # contaminated
        (2, "srcA", "completely original prose about nothing at all"),
        (3, "srcB", "another clean document with its own words"),
        (4, "srcB", "yet more clean text that shares no grams"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    bench = spark.createDataFrame(
        [(100, "quick brown fox jumps over")], "doc_id long, text string"
    )
    inp, bpath, cat = str(tmp_path / "docs"), str(tmp_path / "bench"), str(tmp_path / "cat")
    docs.write.parquet(inp)
    bench.write.parquet(bpath)
    wpath = tmp_path / "weights.csv"
    wpath.write_text("srcA,3.0\n")  # srcB takes the 1.0 default
    monkeypatch.setattr(
        sys,
        "argv",
        ["mix_job.py", "--input", inp, "--benchmark", bpath, "--weights",
         str(wpath), "--catalog", cat, "--ngram", "3"],
    )
    mix_job.main()

    bad = [r["doc_id"] for r in spark.read.parquet(f"{cat}/mix_contaminated").collect()]
    assert bad == [1]
    mix = spark.read.parquet(f"{cat}/mix").collect()
    by_doc = {}
    for r in mix:
        by_doc.setdefault(r["doc_id"], []).append(r["copy"])
    assert 1 not in by_doc                       # contaminated doc excluded
    assert sorted(by_doc[2]) == [0, 1, 2]        # srcA upsampled 3x
    assert sorted(by_doc[3]) == [0] and sorted(by_doc[4]) == [0]
    stats = {r["source"]: r for r in spark.read.parquet(f"{cat}/mix_stats").collect()}
    assert stats["srcA"]["n_docs"] == 2 and stats["srcA"]["n_contaminated"] == 1
    assert stats["srcA"]["n_sampled"] == 3
    assert stats["srcB"]["n_sampled"] == 2


def test_pack_sequences_layout_and_determinism(spark):
    """Greedy packing: docs fill packs in id order per shard; a doc
    straddling the capacity boundary belongs to the pack where it STARTS;
    the layout is independent of input partitioning."""
    from ocr_spark.operators.mixing import pack_sequences

    # one shard (n_shards=1): token counts 3, 4, 5, 2 with capacity 8
    docs = spark.createDataFrame(
        [(0, "a b c"), (1, "d e f g"), (2, "h i j k l"), (3, "m n")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in pack_sequences(docs, capacity=8, n_shards=1).collect()}
    assert [(out[i]["pack_id"], out[i]["offset_in_pack"]) for i in range(4)] == [
        (0, 0),   # tokens_before 0
        (0, 3),   # tokens_before 3
        (0, 7),   # tokens_before 7 — starts in pack 0, straddles into 1
        (1, 4),   # tokens_before 12
    ]
    assert all(out[i]["shard"] == 0 for i in range(4))
    # repartitioning the input must not change the layout
    out2 = {r["doc_id"]: (r["pack_id"], r["offset_in_pack"])
            for r in pack_sequences(docs.repartition(7), capacity=8, n_shards=1).collect()}
    assert out2 == {i: (out[i]["pack_id"], out[i]["offset_in_pack"]) for i in range(4)}
    # sharding: docs land in doc_id % n_shards with independent running sums
    sharded = {r["doc_id"]: r for r in pack_sequences(docs, capacity=8, n_shards=2).collect()}
    assert sharded[0]["shard"] == 0 and sharded[1]["shard"] == 1
    assert sharded[2]["offset_in_pack"] == 3   # after doc 0 in shard 0
    assert sharded[3]["offset_in_pack"] == 4   # after doc 1 in shard 1


def test_pack_sequences_string_ids_shard_by_hash(spark):
    """A string id column must NOT collapse into one NULL shard (pmod of
    an implicit string→long cast is NULL): string ids shard by xxhash64,
    deterministically, with non-null shard/pack/offset everywhere."""
    from ocr_spark.operators.mixing import pack_sequences

    docs = spark.createDataFrame(
        [(f"doc-{i}", "w " * (i % 5 + 1)) for i in range(40)],
        "doc_id string, text string",
    )
    rows = pack_sequences(docs, capacity=16, n_shards=8).collect()
    assert len(rows) == 40
    assert all(r["shard"] is not None and 0 <= r["shard"] < 8 for r in rows)
    assert all(r["pack_id"] is not None and r["offset_in_pack"] is not None
               for r in rows)
    # deterministic: not everything in one shard, and a re-run agrees
    assert len({r["shard"] for r in rows}) > 1
    again = {r["doc_id"]: (r["shard"], r["pack_id"], r["offset_in_pack"])
             for r in pack_sequences(docs.repartition(5), capacity=16,
                                     n_shards=8).collect()}
    assert again == {r["doc_id"]: (r["shard"], r["pack_id"], r["offset_in_pack"])
                     for r in rows}


def test_oracle_whitespace_class_matches_java(spark):
    """Java's \\s includes vertical tab (U+000B); RE2's (DuckDB) does not.
    Every word-splitting oracle therefore uses [\\s\\x0b] — this pins that
    the two engines tokenize a vertical-tab string identically."""
    import duckdb

    from ocr_spark.operators.curation import words_column

    text = "a\x0bb c\td"
    spark_words = (
        spark.createDataFrame([(text,)], "text string")
        .select(words_column("text").alias("w"))
        .collect()[0]["w"]
    )
    duck_words = duckdb.sql(
        r"select string_split_regex(regexp_replace($t$" + text + r"$t$,"
        r" '^[\s\x0b]+|[\s\x0b]+$', '', 'g'), '[\s\x0b]+') as w"
    ).fetchone()[0]
    assert spark_words == duck_words == ["a", "b", "c", "d"]


def test_translated_regex_chains_match_java_on_vertical_tab(spark):
    """The Java→RE2 pattern translation (_re2_pattern) must align \\s with
    Java's class (which includes U+000B): the layout chain on a
    vertical-tab-indented numbered line gives identical output in both
    engines."""
    import duckdb

    import __spark_entry__ as entry_mod
    from ocr_spark.functions.textnorm import format_layout

    text = "\x0b3．text line"  # VT-indented '3．' — Java \s consumes the VT
    spark_out = (
        spark.createDataFrame([(text,)], "t string")
        .select(format_layout(F.col("t")).alias("o"))
        .collect()[0]["o"]
    )
    sql = "select " + entry_mod._layout_chain_sql("$t$" + text + "$t$") + " as o"
    duck_out = duckdb.sql(sql).fetchone()[0]
    assert spark_out == duck_out


def test_mixing_plan_shape(spark):
    """decontaminate: training grams meet the benchmark set in a map-side
    broadcast join (never a shuffled join of the exploded gram stream), the
    gram lambdas reference a materialized words ATTRIBUTE (no re-inlined
    split — the with_shingles lesson), and the shuffle budget is the three
    designed aggregations (bench distinct, per-(doc,gram) distinct, per-doc
    count). weighted_sample: zero shuffles — one broadcast of the weight
    table, everything else row-local."""
    rows = [(i, f"src{i % 3}", f"alpha beta gamma {i % 7} delta epsilon") for i in range(50)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    bench = docs.filter(F.col("doc_id") % 5 == 0).select("doc_id", "text")
    train = docs.filter(F.col("doc_id") % 5 != 0).select("doc_id", "text")

    p = plan_text(decontaminate(train, bench, n=3))
    assert "BroadcastHashJoin" in p, p[:2000]
    # 3 designed shuffles (bench distinct, per-(doc,gram) distinct, per-doc
    # count) + up to 2 for the final totals<->counts join: createDataFrame
    # inputs carry no size stats so it plans as SMJ here (on parquet it
    # broadcasts; at 10^12 docs AQE decides — deliberately unhinted, the
    # matched side can be billions of rows on a contaminated corpus)
    assert p.count("Exchange") - p.count("BroadcastExchange") <= 5, p[:2000]
    bad = [l for l in p.splitlines() if "lambdafunction" in l and "split(" in l]
    assert not bad, bad[:2]
    bad = [l for l in p.splitlines() if "Filter" in l and "split(" in l]
    assert not bad, bad[:2]

    weights = docs.sparkSession.createDataFrame([("src0", 2.5)], ["source", "weight"])
    p = plan_text(weighted_sample(docs.select("doc_id", "source"), weights))
    assert p.count("Exchange") - p.count("BroadcastExchange") == 0, p[:2000]
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p[:2000]
