#!/usr/bin/env python
"""Throughput-scaling evidence: identical extraction job at N and 4N cores.

The north rule requires >=0.8 throughput-scaling efficiency going from N to
4N executors. No real cluster exists in this sandbox, so (per the driver's
protocol) we run the SAME job on the SAME materialized input at two local
parallelism levels — ``local[8]`` and ``local[32]`` — in separate
subprocesses (a SparkSession's master can't change within one JVM), and
report docs/sec at both plus efficiency = (tp_4N / tp_N) / 4.

Writes ``BENCH/SCALING_RUN.md`` (BENCH/BASELINE.md is the curated
evidence document; this file is the latest raw run) and prints one JSON line.

Usage: python scripts/bench_scaling.py [n_docs]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_WORKER = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
from ocr_spark.session import get_spark
from ocr_spark.operators.boilerplate import strip_boilerplate
from ocr_spark.operators.extract import extract_docs, render_markdown
from ocr_spark.operators.curation import (
    chunk_dedup,
    dedup_lines,
    exact_substring_dedup,
    lm_cross_entropy,
    repetition_stats,
    top_ngrams,
    unigram_lm,
)
from ocr_spark.operators.dedup import (
    dup_clusters,
    minhash_lsh_candidates,
    simhash_dup_pairs,
)
from ocr_spark.operators.embed import make_embedding_udf
from ocr_spark.operators.layout import assemble_reading_order, detect_regions
from ocr_spark.operators.mixing import decontaminate, pack_sequences
from ocr_spark.operators.classify import classifier_score_joined
from ocr_spark.operators.cluster import semdedup
from ocr_spark.operators.quantize import topk_similar_quantized
from ocr_spark.operators.dsir import dsir_log_ratios, dsir_score
from ocr_spark.operators.langid import langid_fit, langid_predict, langid_scores
from ocr_spark.operators.web import domain_cap
from ocr_spark.operators.similarity import ann_topk_per_query
from pyspark.sql import functions as F

cores = int(sys.argv[1])
corpus = sys.argv[2]
# heap scales with cores (3 GB/core): a real 4N cluster has 4N executor
# heaps, so aggregate memory grows with the cluster; holding the single
# local JVM at a FIXED heap while quadrupling cores shrinks memory/core
# 4x and manufactures spills only at the 4N level (layout's window sort:
# 503 MB spilled at 8 cores, zero at 2, same job/input) — an artifact of
# the sandbox, not a property of the plan.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{{3 * cores}}g")
spark = get_spark(app_name=f"scaling_{{cores}}", master=f"local[{{cores}}]",
                  shuffle_partitions=max(32, cores))
spark.sparkContext.setLogLevel("ERROR")
spark.conf.set("spark.sql.files.maxPartitionBytes", str(64 * 1024))
spark.conf.set("spark.sql.files.openCostInBytes", str(1024))
docs = spark.read.parquet(corpus)

def force(df):
    df.write.format("noop").mode("overwrite").save()

# non-extraction scale paths measured alongside the headline job:
# dedup (minhash-LSH candidate generation over rendered text) and
# ANN (random-projection bucket top-k over deterministic embeddings).
# dedup subset fraction (1 = full corpus) — configurable because job cost
# at the LOW parallelism level bounds the wall clock of the whole protocol
_frac = int(os.environ.get("SPARK_GRAFT_SCALE_DEDUP_FRAC", "1"))
subset = docs if _frac <= 1 else docs.filter(
    F.pmod(F.xxhash64("doc_id"), F.lit(_frac)) == 0
)
texts = render_markdown(extract_docs(subset)).select("doc_id", F.col("content").alias("text"))
emb_udf = make_embedding_udf(64)
emb = docs.select("doc_id", emb_udf(F.pmod(F.xxhash64("doc_id"), F.lit(10000))).alias("embedding"))
qs = emb.limit(3).select(F.col("doc_id").alias("query_id"), F.col("embedding").alias("query_vec"))

# north-rule W1/W2 + simhash inputs are MATERIALIZED parquet (built once by
# the parent at full parallelism, only for the jobs actually selected): the
# timed job is the operator itself, not a re-run of the extract+render
# upstream (which has its own row above) — otherwise the operators are a
# small tail on a 58 s upstream and the efficiency reading is mostly noise.
# Reads live inside the job lambdas so an unselected job's input need not
# exist on disk.
JOBS = {{
    "extract": lambda: extract_docs(docs),
    "dedup": lambda: minhash_lsh_candidates(texts, n_hashes=32, n_bands=8),
    "ann": lambda: ann_topk_per_query(emb, qs, dim=64, k=10, n_planes=8, n_bands=2,
                                      id_col="doc_id"),
    "boilerplate": lambda: strip_boilerplate(spark.read.parquet(corpus + "_html")),
    "layout": lambda: assemble_reading_order(
        detect_regions(spark.read.parquet(corpus + "_tokens"),
                       column_width=400.0, gap_threshold=30.0)
    ),
    # the gate's operator: md5 per-word SimHash (exploded words, packed
    # 64-bit hash) + pair-of-blocks candidate indexes
    "simhash": lambda: simhash_dup_pairs(
        spark.read.parquet(corpus + "_text"), max_hamming=3, n_blocks=8
    ),
    # corpus-curation scale paths over the same rendered-text input:
    # chunk_dedup = the family's real corpus-wide shuffle (min-struct
    # keeper aggregation + winners-only rebuild), repetition = the
    # doc-pinned repartition + partition-local token aggregation
    "chunkdedup": lambda: chunk_dedup(
        spark.read.parquet(corpus + "_text"), chunk_words=10
    ),
    "repetition": lambda: repetition_stats(
        spark.read.parquet(corpus + "_text")
    ),
    # eval-set decontamination over the same rendered text: the ~1%
    # xxhash64 slice plays the benchmark, the rest is training. n=3 on
    # the small-vocab synthetic corpus makes contamination BROAD, so the
    # post-broadcast-join matched stream (the operator's one real
    # shuffle) is a worst-case-sized workload, not a trivially
    # selective one
    "decon": lambda: decontaminate(
        spark.read.parquet(corpus + "_text").filter(
            F.pmod(F.xxhash64("doc_id"), F.lit(97)) != 0),
        spark.read.parquet(corpus + "_text").filter(
            F.pmod(F.xxhash64("doc_id"), F.lit(97)) == 0),
        n=3,
    ),
    # corpus-wide gram frequency: explode + map-side-combined count +
    # TakeOrdered — the shuffle carries one partial row per distinct gram
    # per task, a real volume on this high-entropy corpus
    "topngrams": lambda: top_ngrams(
        spark.read.parquet(corpus + "_text"), n=3, k=100
    ),
    # intra-doc line dedup over the rendered text (its '\n'-seeded lines):
    # the repetition_stats shuffle shape — doc-pinned repartition, then
    # partition-local keeper + rebuild aggregations
    "deduplines": lambda: dedup_lines(spark.read.parquet(corpus + "_text")),
    # CCNet LM quality end to end: the corpus-wide tokenize+count LM build
    # (localCheckpoint'd inside unigram_lm) PLUS the per-doc cross-entropy
    # — whose word->logp join is the one deliberately unhinted shuffle
    # join in the curation family (curation.unigram_lm/lm_cross_entropy)
    "lmquality": lambda: _lm_quality_job(),
    # token-budget sequence packing: the shard-keyed running-sum window —
    # n_shards IS the parallelism knob (uniform keys by construction),
    # 4096 shards >> cores at both levels
    "packseq": lambda: pack_sequences(
        spark.read.parquet(corpus + "_text"), capacity=2048, n_shards=4096
    ),
    # int8 quantized top-k over the PERSISTED qvec/qscale table (the
    # production shape: stage 1 scans the 4x-smaller stored column, exact
    # rescore on the float column for the surviving 40). A 24-query batch
    # (unioned TakeOrdered branches, each tagged with its query index):
    # one query finishes in ~2.5 s at 2 cores — fixed-overhead-dominated,
    # unreadable efficiency — while the batch is the actual serving shape
    # (a query stream amortizing the scan) and is work-dominated at both
    # parallelism levels.
    "quantized": lambda: _quantized_batch(24),
    # hashed linear classifier, joined (million-bucket) path: pinned
    # repartition + posexplode + broadcast weight join + two id-keyed
    # aggregations that reuse the repartition's HashPartitioning
    "classify": lambda: classifier_score_joined(
        spark.read.parquet(corpus + "_text"), _weights_df(), seed=2
    ),
    # SemDeDup at its production shape: BLAS matmul assignment (4096 cells
    # x dim 64), localCheckpointed assignments, cell-local cosine pairs
    # (~n^2/2k = 30M at 500k docs), map-side-combined witness aggregation
    "semdedup": lambda: semdedup(
        spark.read.parquet(corpus + "_qemb").select("doc_id", "embedding"),
        n_cells=4096, threshold=0.8, n_iter=0,
    ),
    # the giant-cell defense under adversarial skew: 10% of the corpus is
    # ONE planted duplicate direction (50k identical vectors at 500k ->
    # one cell 400x the mean), which the plain cell-keyed self-join would
    # scan as O(m^2) pairs in ONE task. max_cell_size=4096 salts the hot
    # cell into ceil(50k/4096)=13 blocks -> 91 bounded block-pair BLAS
    # tasks emitting per-doc witness partials; the 4096 cold cells stay on
    # the expression self-join path
    "semdedupskew": lambda: _semdedup_skew_job(),
    # domain share cap over synthesized skew (one domain holds ~80% of the
    # corpus): count + broadcast-back join + ROW-LOCAL keep decision — the
    # no-window scale path under exactly the skew it exists for
    "urlcap": lambda: domain_cap(_skewed_urls(), cap=1000, seed=11),
    # ExactSubstr sliding-window dedup: the family's heaviest shuffle pair
    # (full 16-byte-keyed window stream into the keeper aggregation AND the
    # join back), k=20 windows over the rendered text
    "substrdedup": lambda: exact_substring_dedup(
        spark.read.parquet(corpus + "_text"), min_words=20
    ),
    # trained language ID end to end: model fit on a ~3% slice (three
    # synthetic char-distributions over the rendered text), then the
    # broadcast-model score join + argmax aggregation over the rest —
    # the heaviest per-char row-local work in the repo (one md5 per
    # char trigram) feeding a 3x gram-stream fan-out
    "langid": lambda: _langid_job(),
    # DSIR end to end: two corpus-wide hashed-gram fit aggregations
    # (model-sized shuffles) + the broadcast-llr scoring join over the raw
    # pool (the classify joined shape), 2^16 buckets, unigram+bigram
    "dsir": lambda: _dsir_job(),
    # connected components under a giant-DIAMETER component: a 200k-link
    # chain (worst case for any propagation scheme — min-label would need
    # 200k rounds) + modular background pairs over 20M nodes (see
    # _cc_skew_job). The alternating-star rounds bound is
    # diameter-independent (~18 rounds here); each round is two groupBy+join passes over a
    # shrinking edge set, so the leg measures how the round-serialized
    # fixpoint loop scales N->4N (the per-round barrier is the risk,
    # not a hot key: every star pass is linear per node).
    "ccskew": lambda: _cc_skew_job(),
}}

def _weights_df():
    # dense 2^18-bucket model regenerated per call (bounded: model rows)
    n = 1 << 18
    return spark.range(n).select(
        F.col("id").cast("int").alias("bucket"),
        (F.sin(F.col("id") + 1)).alias("weight"),
    )

def _skewed_urls():
    d = F.col("doc_id")
    dom = F.when(F.pmod(F.xxhash64(d), F.lit(5)) == 0,
                 F.concat(F.lit("cold"), F.pmod(F.xxhash64(d), F.lit(997)).cast("string"))
         ).otherwise(F.lit("hot"))
    return spark.read.parquet(corpus + "_text").select(
        "doc_id",
        F.concat(F.lit("https://WWW."), dom,
                 F.lit(".com/page/"), d.cast("string"),
                 F.lit("?utm_source=feed&b=2&a=1")).alias("url"),
    )

import math
_QUERY_VEC = [math.sin(i + 1) for i in range(64)]

def _quantized_batch(n_queries):
    from functools import reduce
    qemb = spark.read.parquet(corpus + "_qemb")
    legs = [
        topk_similar_quantized(
            qemb, [math.sin(i + 1 + q) for i in range(64)],
            k=10, rescore_factor=4,
        ).select(F.lit(q).alias("query_idx"), "*")
        for q in range(n_queries)
    ]
    return reduce(lambda a, b: a.unionByName(b), legs)

def _semdedup_skew_job():
    qemb = spark.read.parquet(corpus + "_qemb").select("doc_id", "embedding")
    hot = F.pmod(F.xxhash64("doc_id"), F.lit(10)) == 0
    hotvec = F.array(
        *[F.lit(float(math.sin(i + 1))) for i in range(64)]
    ).cast("array<float>")
    emb = qemb.select(
        "doc_id",
        F.when(hot, hotvec).otherwise(F.col("embedding")).alias("embedding"),
    )
    return semdedup(
        emb, n_cells=4096, threshold=0.8, n_iter=0, max_cell_size=4096,
    )

def _lm_quality_job():
    texts = spark.read.parquet(corpus + "_text")
    lm, unseen = unigram_lm(texts)
    return lm_cross_entropy(texts, lm, unseen_logp=unseen)

def _langid_job():
    texts = spark.read.parquet(corpus + "_text")
    d = F.col("doc_id")
    cls = F.pmod(F.xxhash64(d), F.lit(3))
    t0 = F.coalesce("text", F.lit(""))
    lang = F.when(cls == 0, "aa").when(cls == 1, "bb").otherwise("cc")
    text = (F.when(cls == 0, t0)
             .when(cls == 1, F.translate(t0, "etaoins", "XXXXXXX"))
             .otherwise(F.reverse(t0)))
    docs2 = texts.select("doc_id", lang.alias("lang"), text.alias("text"))
    is_fit = F.pmod(F.xxhash64(d), F.lit(37)) == 0
    fit = docs2.filter(is_fit).select("lang", "text")
    score = docs2.filter(~is_fit).select("doc_id", "text")
    # xxhash family: the JVM-native scale path (the md5 family is for
    # oracle-replayable gates; per-gram it costs ~17us in hex-string
    # allocations vs <1us for one xxhash64 long — measured 2c run-time
    # difference ~10x on this corpus)
    model = langid_fit(fit, 1 << 14, n=3, seed=2, hash_family="xxhash")
    return langid_predict(langid_scores(
        score, model, 1 << 14, n=3, seed=2, hash_family="xxhash"))

def _cc_skew_job():
    # Per-round star work must DOMINATE the round's fixed stage/driver
    # latency (~2 s in the worker env, parallelism-INDEPENDENT) or the
    # reading measures the fixpoint loop's latency floor, not the
    # algorithm: 500k nodes read 0.374 and 2M read 0.466 from exactly
    # that. 20M nodes / ~10M canonical edges puts ~10 s of work in each
    # 8-core round; the 200k-link chain pins the ROUND COUNT (~18,
    # diameter-independent is the property under test) while the modular
    # background mass carries the throughput.
    n = 20_000_000
    ids = spark.range(n)
    i = F.col("id")
    chain = ids.filter(i < 200_000 - 1).select((i + 1).alias("id_a"), i.alias("id_b"))
    e1 = ids.filter(i % 7 == 0).select(i.alias("id_a"), (i + 100_000_000).alias("id_b"))
    e2 = ids.filter(i % 7 == 0).select(
        (i + 100_000_000).alias("id_a"), (i + 200_000_000).alias("id_b")
    )
    e3 = ids.filter(i % 5 == 0).select(i.alias("id_a"), (i + 300_000_000).alias("id_b"))
    edges = chain.unionByName(e1).unionByName(e2).unionByName(e3)
    return dup_clusters(
        edges, nodes=ids.select(F.col("id").alias("doc_id")), max_iter=40
    )

def _dsir_job():
    texts = spark.read.parquet(corpus + "_text")
    is_target = F.pmod(F.xxhash64("doc_id"), F.lit(37)) == 0
    target, raw = texts.filter(is_target), texts.filter(~is_target)
    llr = dsir_log_ratios(target, raw, 1 << 16, ns=(1, 2), seed=2)
    return dsir_score(raw, llr, 1 << 16, ns=(1, 2), seed=2)
# per-job input split size: 64 KiB suits the span-heavy docs corpus (rows
# expand ~100x on explode); the flat rendered-text input wants ~1 MiB or
# per-task overhead dominates the 4N level and poisons the efficiency read
SPLIT_BYTES = {{"simhash": 1024 * 1024,
               "chunkdedup": 1024 * 1024,
               "repetition": 1024 * 1024,
               "decon": 1024 * 1024,
               "topngrams": 1024 * 1024,
               "deduplines": 1024 * 1024,
               "lmquality": 1024 * 1024,
               "packseq": 1024 * 1024,
               "classify": 1024 * 1024,
               "urlcap": 1024 * 1024,
               "dsir": 1024 * 1024,
               "langid": 1024 * 1024,
               "substrdedup": 1024 * 1024,
               # qemb again: wide rows, scan feeds the Arrow assign UDF
               "semdedup": 4 * 1024 * 1024,
               "semdedupskew": 4 * 1024 * 1024,
               # qemb rows are wide (float + int8 vector per doc): 4 MiB
               # keeps the scan-dominated job at tasks >> cores without
               # thousands of near-empty scan tasks at 4N
               "quantized": 4 * 1024 * 1024,
               # the token corpus is 13 MB compressed exploding to an
               # 846 MB shuffle: 64 KiB splits = 2,324 near-empty scan
               # tasks whose scheduling overhead only bites at 4N
               "layout": 256 * 1024}}
# per-job AQE advisory partition size: simhash's bucket join carries a
# ~600 MB shuffle with ~480 core-s of join work; the 64 MB default
# coalesces it to 11 post-shuffle tasks — fine at 2 cores (5+ waves) but
# 1.4 ragged waves at 8 (tasks 28-52 s, cores idle at the barrier;
# measured 0.70 efficiency from THIS alone). 16 MB keeps all 32 shuffle
# partitions (>= 4 waves at 4N) — the task>>core regime a 100 TB shuffle
# is in naturally. Same setting at both levels.
ADVISORY_BYTES = {{"simhash": 16 * 1024 * 1024,
                  # chunkdedup's distinct-chunk shuffle is ~150-200 MB at
                  # 500k docs: 16 MB advisory -> ~12 post-shuffle tasks =
                  # ragged waves at 8 cores; 4 MB keeps tasks >> cores
                  "chunkdedup": 4 * 1024 * 1024,
                  "repetition": 16 * 1024 * 1024,
                  # decon's post-join per-doc count (and topngrams' gram
                  # count) land ~11 post-shuffle tasks under 16 MB at 120k
                  # (1.4 ragged waves at 8c) — same granularity artifact
                  # as chunkdedup
                  "decon": 4 * 1024 * 1024,
                  "topngrams": 4 * 1024 * 1024,
                  "deduplines": 4 * 1024 * 1024,
                  # lmquality's word-count and join shuffles and packseq's
                  # (id, shard, n_tokens) window shuffle are mid-size: the
                  # 64 MB default would coalesce them below cores at 4N
                  "lmquality": 4 * 1024 * 1024,
                  "packseq": 4 * 1024 * 1024,
                  # classify's id-keyed aggregations and semdedup's
                  # cell-join shuffle are mid-size at 500k: keep tasks >>
                  # cores at 4N (same granularity artifact as chunkdedup)
                  "classify": 4 * 1024 * 1024,
                  "semdedup": 4 * 1024 * 1024,
                  "semdedupskew": 4 * 1024 * 1024,
                  "urlcap": 4 * 1024 * 1024,
                  "dsir": 4 * 1024 * 1024,
                  "langid": 4 * 1024 * 1024,
                  "substrdedup": 4 * 1024 * 1024,
                  # same artifact on W2's (doc, column) token shuffle:
                  # 23.2 -> 17.9 s at 8 cores when split 16 MB
                  "layout": 16 * 1024 * 1024}}
n_repeats = int(os.environ.get("SPARK_GRAFT_SCALE_REPEATS", "5"))
_only = os.environ.get("SPARK_GRAFT_SCALE_JOBS")
if _only:
    JOBS = {{k: v for k, v in JOBS.items() if k in _only.split(",")}}
out = {{"cores": cores}}
for name, mk in JOBS.items():
    # FileSourceScan consults this conf when each action plans its read
    spark.conf.set("spark.sql.files.maxPartitionBytes",
                   str(SPLIT_BYTES.get(name, 64 * 1024)))
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
                   str(ADVISORY_BYTES.get(name, 64 * 1024 * 1024)))
    force(mk())  # warm-up: codegen + JIT
    times = []
    # short materialized-input jobs get full repeats (host-noise robustness);
    # the long composite dedup/ann legs and the work-dominated simhash leg
    # keep the reduced count
    reps = (
        n_repeats
        if name in ("extract", "boilerplate", "layout")
        else max(2, n_repeats - 2)
    )
    for _ in range(reps):
        t0 = time.perf_counter()
        force(mk())
        times.append(time.perf_counter() - t0)
    out[name] = {{"sec": round(min(times), 3),
                  "all_runs": [round(t, 3) for t in times]}}
    print(f"[scaling {{cores}}c] {{name}}: {{out[name]}}", file=sys.stderr, flush=True)
n_docs = docs.count()
n_spans = docs.select(F.sum(F.size("spans"))).collect()[0][0]
out["n_docs"] = n_docs
out["n_spans"] = int(n_spans)
if "extract" in out:
    out["sec"] = out["extract"]["sec"]
    out["all_runs"] = out["extract"]["all_runs"]
    out["docs_per_sec"] = round(n_docs / out["extract"]["sec"], 1)
print(json.dumps(out))
"""


def run_level(cores: int, corpus: str) -> dict:
    script = _WORKER.format(repo=REPO)
    # stderr inherits (per-job progress lines are greppable in the parent's
    # log); only stdout (the one JSON line) is captured
    out = subprocess.run(
        [sys.executable, "-c", script, str(cores), corpus],
        stdout=subprocess.PIPE, text=True, check=True, cwd=REPO,
    )
    line = [l for l in out.stdout.splitlines() if l.strip().startswith("{")][-1]
    return json.loads(line)


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 120000
    sys.path.insert(0, REPO)
    from ocr_spark.corpus import CORPUS_VERSION

    corpus = os.path.join("/tmp", f"ocr_spark_bench_corpus_{CORPUS_VERSION}_{n_docs}")
    if not os.path.exists(os.path.join(corpus, "_SUCCESS")):
        gen = (
            "import sys; sys.path.insert(0, {repo!r})\n"
            "from ocr_spark.session import get_spark\n"
            "from ocr_spark.corpus import generate_docs\n"
            "spark = get_spark(master='local[32]')\n"
            "spark.sparkContext.setLogLevel('ERROR')\n"
            "generate_docs(spark, {n}, seed=42).write.mode('overwrite').parquet({corpus!r})\n"
        ).format(repo=REPO, n=n_docs, corpus=corpus)
        subprocess.run([sys.executable, "-c", gen], check=True, cwd=REPO)

    _sel = os.environ.get("SPARK_GRAFT_SCALE_JOBS")
    # chunkdedup/repetition are NOT in the default set: at the default
    # 120k corpus their 4N wall is ~6 s (fixed-overhead-dominated, the
    # artifact the W1/W2 note documents). Measure them work-dominated:
    #   SPARK_GRAFT_SCALE_JOBS=chunkdedup,repetition \
    #     python scripts/bench_scaling.py 500000
    sel = set(_sel.split(",")) if _sel else {
        "extract", "dedup", "ann", "boilerplate", "layout", "simhash"
    }
    # The worker filters its JOBS dict from this env var: when the caller
    # left it unset, pass the DEFAULT selection down explicitly — otherwise
    # the worker would run every registered leg, including ones whose
    # derived inputs (_qemb, _text, ...) the parent only materializes for
    # the selected set (observed: a default run crashed at the quantized
    # leg's missing 120k _qemb AFTER timing six legs).
    os.environ["SPARK_GRAFT_SCALE_JOBS"] = ",".join(sorted(sel))

    if sel & {"boilerplate", "layout"} and not os.path.exists(
        os.path.join(corpus + "_tokens", "_SUCCESS")
    ):
        # one-time derived-input materialization (full parallelism; cost is
        # setup, not measurement): gate-shaped HTML pages + planted
        # two-column page geometry over the rendered corpus
        gen2 = (
            "import sys; sys.path.insert(0, {repo!r})\n"
            "from ocr_spark.session import get_spark\n"
            "from ocr_spark.operators.extract import extract_docs, render_markdown\n"
            "from pyspark.sql import functions as F\n"
            "spark = get_spark(master='local[32]')\n"
            "spark.sparkContext.setLogLevel('ERROR')\n"
            "docs = spark.read.parquet({corpus!r})\n"
            "texts = render_markdown(extract_docs(docs)).select('doc_id', F.col('content').alias('text'))\n"
            "html = texts.select('doc_id', F.concat(\n"
            "    F.lit('<nav><a href=\"#\">Home</a> <a href=\"#\">About</a> <a href=\"#\">Contact</a></nav><h1>'),\n"
            "    F.col('doc_id'), F.lit(' heading line</h1><p>'), F.col('text'),\n"
            "    F.lit('</p><p>tiny</p><div>More <a href=\"#\">link one</a> <a href=\"#\">link two</a> txt</div>'\n"
            "          '<footer><a href=\"#\">Privacy</a> | <a href=\"#\">Terms</a></footer>')).alias('html'))\n"
            "html.write.mode('overwrite').parquet({corpus!r} + '_html')\n"
            "w = texts.select('doc_id', F.posexplode(F.split('text', ' ')).alias('pos0', 'token'))\n"
            "p0, blk = F.col('pos0'), F.floor(F.col('pos0') / 12)\n"
            "tok = w.select('doc_id',\n"
            "    ((blk % 2) * 400 + (p0 % 4) * 50).cast('double').alias('x'),\n"
            "    (F.floor(blk / 2) * 100 + F.floor((p0 % 12) / 4) * 12).cast('double').alias('y'),\n"
            "    'token')\n"
            "# 4x doc replication: the isolated layout job must be work-\n"
            "# dominated (>=30 s at 4N), not fixed-overhead-dominated\n"
            "tok4 = None\n"
            "for i in range(4):\n"
            "    rep = tok.withColumn('doc_id', F.concat('doc_id', F.lit(f'#r{{i}}')))\n"
            "    tok4 = rep if tok4 is None else tok4.unionByName(rep)\n"
            "tok4.write.mode('overwrite').parquet({corpus!r} + '_tokens')\n"
        ).format(repo=REPO, corpus=corpus)
        subprocess.run([sys.executable, "-c", gen2], check=True, cwd=REPO)

    if sel & {"simhash", "chunkdedup", "repetition", "decon", "topngrams",
              "deduplines", "lmquality", "packseq", "classify",
              "urlcap", "dsir", "substrdedup", "langid"} and not os.path.exists(
        os.path.join(corpus + "_text", "_SUCCESS")
    ):
        # rendered-text input for the isolated simhash job (same doc_id/text
        # shape as the composite dedup leg, but materialized so the timed
        # job is the operator, not the extract+render upstream)
        gen3 = (
            "import sys; sys.path.insert(0, {repo!r})\n"
            "from ocr_spark.session import get_spark\n"
            "from ocr_spark.operators.extract import extract_docs, render_markdown\n"
            "from pyspark.sql import functions as F\n"
            "spark = get_spark(master='local[32]')\n"
            "spark.sparkContext.setLogLevel('ERROR')\n"
            "docs = spark.read.parquet({corpus!r})\n"
            "render_markdown(extract_docs(docs)).select('doc_id', F.col('content').alias('text'))"
            ".write.mode('overwrite').parquet({corpus!r} + '_text')\n"
        ).format(repo=REPO, corpus=corpus)
        subprocess.run([sys.executable, "-c", gen3], check=True, cwd=REPO)

    if sel & {"quantized", "semdedup", "semdedupskew"} and not os.path.exists(
        os.path.join(corpus + "_qemb", "_SUCCESS")
    ):
        # persisted int8 table (qvec/qscale + float embedding) — the
        # production shape for quantized scan: stage 1 reads the stored
        # 4x-smaller column, not a per-query re-quantization
        gen4 = (
            "import sys; sys.path.insert(0, {repo!r})\n"
            "from ocr_spark.session import get_spark\n"
            "from ocr_spark.operators.embed import make_embedding_udf\n"
            "from ocr_spark.operators.quantize import with_int8_vectors\n"
            "from pyspark.sql import functions as F\n"
            "spark = get_spark(master='local[32]')\n"
            "spark.sparkContext.setLogLevel('ERROR')\n"
            "docs = spark.read.parquet({corpus!r}).select('doc_id')\n"
            "emb_udf = make_embedding_udf(64)\n"
            "emb = docs.select('doc_id', emb_udf(F.pmod(F.xxhash64('doc_id'), F.lit(10000))).alias('embedding'))\n"
            "with_int8_vectors(emb).write.mode('overwrite').parquet({corpus!r} + '_qemb')\n"
        ).format(repo=REPO, corpus=corpus)
        subprocess.run([sys.executable, "-c", gen4], check=True, cwd=REPO)

    n_cores = int(os.environ.get("SPARK_GRAFT_SCALE_N", "2"))
    low = run_level(n_cores, corpus)
    high = run_level(4 * n_cores, corpus)
    jobs_run = [
        j
        for j in ("extract", "dedup", "ann", "boilerplate", "layout", "simhash",
                  "chunkdedup", "repetition", "decon", "topngrams", "deduplines",
                  "lmquality", "packseq", "quantized", "classify",
                  "semdedup", "semdedupskew", "urlcap", "dsir",
                  "substrdedup", "langid", "ccskew")
        if j in low and j in high
    ]
    job_eff = {
        j: round((low[j]["sec"] / high[j]["sec"]) / 4.0, 3) for j in jobs_run
    }
    if "extract" not in jobs_run:
        print(json.dumps({"jobs": jobs_run, "job_efficiency": job_eff,
                          "n": low, "4n": high}))
        return
    eff = (high["docs_per_sec"] / low["docs_per_sec"]) / 4.0
    result = {
        "n": low, "4n": high,
        "scaling_efficiency": round(eff, 3),
        "job_efficiency": job_eff,
        "passes_north_rule": eff >= 0.8,
    }
    print(json.dumps(result))

    # the non-extraction section is built from whatever jobs actually ran,
    # so SPARK_GRAFT_SCALE_JOBS subsets (e.g. just "extract") still produce
    # a report instead of a KeyError after the timed runs
    _labels = {
        "dedup": "minhash-LSH dedup candidates",
        "ann": "ANN top-k (random projection)",
        "boilerplate": "HTML boilerplate strip (W1)",
        "layout": "layout regions + reading order (W2)",
        "simhash": "SimHash near-dup pairs (md5 words, pair-of-blocks index)",
        "chunkdedup": "C4 chunk dedup (min-struct keeper + winners rebuild)",
        "repetition": "Gopher repetition stats (unioned token stream)",
        "decon": "eval-set decontamination (broadcast grams)",
        "topngrams": "corpus top-k n-grams (map-combined heap)",
        "deduplines": "intra-doc line dedup (doc-pinned partitions)",
        "lmquality": "CCNet LM quality (LM build + cross-entropy join)",
        "packseq": "sequence packing (shard-keyed running-sum window)",
        "quantized": "int8 quantized top-k (stored qvec scan + rescore)",
        "classify": "hashed linear classifier (joined path, 2^18 buckets)",
        "semdedup": "SemDeDup (BLAS assign, cell-local cosine pairs)",
        "semdedupskew": "SemDeDup + planted 50k-identical hot cell (sub-blocked)",
        "urlcap": "domain share cap (row-local thinning under 80% skew)",
        "dsir": "DSIR importance scoring (2-corpus fit + broadcast-llr join)",
        "substrdedup": "ExactSubstr dedup (dual-hash window keeper + rebuild)",
        "langid": "trained language ID (char-trigram NB, broadcast model)",
        "ccskew": "connected components, 200k-link chain over 20M nodes (alternating star)",
    }
    extra_jobs = [j for j in jobs_run if j != "extract"]
    # _labels.get(j, j): an unlabeled job key must never KeyError AFTER the
    # timed runs completed (that would drop the measurement on the floor)
    extra_rows = "\n".join(
        f"| {_labels.get(j, j)} | {low[j]['sec']} | {high[j]['sec']} | {job_eff[j]} |"
        for j in extra_jobs
    )
    extra_runs = "; ".join(
        f"{j} {low[j]['all_runs']} vs {high[j]['all_runs']}" for j in extra_jobs
    )
    extra_section = "" if not extra_jobs else f"""
Non-extraction scale paths, same protocol (best-of-runs, warmed; the
W1/W2 rows time the operators in isolation on materialized inputs):

| job | local[{low["cores"]}] sec | local[{high["cores"]}] sec | efficiency |
|---|---|---|---|
{extra_rows}
"""

    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    md = f"""# BENCH/SCALING_RUN.md — latest raw scaling run (curated evidence: BENCH/BASELINE.md)

Authoritative metric (`BASELINE.json`): documents/sec extraction throughput
with span-sequence-exact output, **>=0.8 scaling efficiency from N to 4N
executors**. Sandbox protocol: same job, same materialized input, two local
parallelism levels in separate processes.

Job: `ocr_spark.operators.extract.extract_docs` (math rewrite -> figure-tag
promotion -> layout format, narrow shuffle-free span pipeline) over a
deterministic synthetic interleaved corpus ({low["n_docs"]:,} docs /
{low["n_spans"]:,} spans, heavy-doc + media-dense skew per FIXTURES.md §1),
forced via noop sink; best of 5 timed runs after a full warm-up pass.

| parallelism | wall sec (best of 5) | docs/sec | spans/sec |
|---|---|---|---|
| local[{low["cores"]}]  (N)  | {low["sec"]} | {low["docs_per_sec"]:,} | {round(low["n_spans"]/low["sec"]):,} |
| local[{high["cores"]}] (4N) | {high["sec"]} | {high["docs_per_sec"]:,} | {round(high["n_spans"]/high["sec"]):,} |

**Scaling efficiency (tp_4N / tp_N) / 4 = {eff:.3f}** — {"PASSES" if eff >= 0.8 else "FAILS"} the >=0.8 requirement.
{extra_section}
All runs (sec): local[{low["cores"]}] {low["all_runs"]}, local[{high["cores"]}] {high["all_runs"]}{"; " + extra_runs if extra_runs else ""}.

Notes
-----
- The job is a narrow per-partition map (no shuffle), so scaling is limited
  only by scan splits (~440 for this corpus) and single-machine memory
  bandwidth; on a real multi-executor cluster the same plan shape scales
  linearly in executors as long as input splits >> total cores.
- Skew handling: heavy docs (5k-20k spans) are single cells processed by
  whole-stage codegen; one cell's regex time is far below the cost of a
  per-span shuffle, so there is no salted/exploded extraction path.
"""
    with open(os.path.join(REPO, "BENCH", "SCALING_RUN.md"), "w") as f:
        f.write(md)


if __name__ == "__main__":
    main()
