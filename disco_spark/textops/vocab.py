"""Corpus vocabulary statistics and train/test contamination detection
(beyond-reference surface; driver north star: training-data pipeline ops).

Reference analog is only the wordcount family (README.md:17-30,
examples/util/wordcount_ddb.py:14-22) — these extend it to n-gram
vocabulary profiling and benchmark-contamination checks, two standard
steps in curating an LLM training corpus.

Scale notes (100 TB):
- `vocab_top_bigrams` is one scan + one shuffle (partial/final hash agg
  fuses the per-partition counts map-side) + a TakeOrdered(k) — the
  top-k never materializes the full vocabulary on the driver.
- `contamination_test_vs_train` joins on the shingle string. At real
  scale you would (a) use longer shingles (k=13 is the usual published
  choice) so the match set is sparse, and (b) prefilter the huge train
  side against a bloom filter of the SMALL (benchmark) side's shingles
  before the exact join. The k=3 setting here keeps the DuckDB oracle
  tractable; the plan shape (shuffle-on-shingle, distinct-before-join
  on the train side) is the one that scales.
- `contamination_train_bloom` IS that scale path, implemented: the
  benchmark split's shingle vocabulary folds into an m-bit bloom bitset
  (one bounded aggregation; m sized from the observed vocabulary so the
  false-positive rate stays put as the benchmark grows), the bitset
  rides to every executor as a broadcast 1-row array<long> (a real
  100 TB bloom is hundreds of MB — a broadcast, never a plan literal),
  and train shingles are tested with pure JVM bit arithmetic
  (xxhash64 / shiftright / bitwiseAND — zero Python in the hot path).
  Only surviving shingles reach the exact join, so the shuffle carries
  ~fpr of the corpus instead of all of it. Blooms have no false
  negatives, so the result — and therefore the oracle — is identical
  to the exact join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from disco_spark.dedup.dedup import _SHINGLES_SQL, shingle_df
from disco_spark.registry import query
from disco_spark.sampling import TEST_HI, VAL_HI, _bucket_sql, hash_bucket
from disco_spark.session import lazy_persist, load_tables
from disco_spark.textops.analysis import _TOKS_SQL, with_toks

TOP_K = 20
# shared split boundaries (sampling.py is the single definition site):
# bucket < TEST_HI -> 'test'; >= VAL_HI -> 'train' (val in between)
_TEST_HI = TEST_HI
_TRAIN_LO = VAL_HI


@query(
    "vocab_top_bigrams",
    oracle=f"""
    WITH toks AS (SELECT {_TOKS_SQL} AS toks FROM documents),
    bigrams AS (
      SELECT concat_ws(' ', toks[i], toks[i+1]) AS bigram
      FROM (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
            FROM toks WHERE len(toks) >= 2)
    )
    SELECT bigram, COUNT(*) AS n FROM bigrams
    GROUP BY bigram ORDER BY n DESC, bigram LIMIT {TOP_K}
    """,
)
def vocab_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TOP_K} most frequent token bigrams corpus-wide (total order:
    count desc, then bigram — deterministic across engines)."""
    t = load_tables(spark, sf_dir)
    toks = F.col("toks")
    # toks is a projected column (never the raw split expression) — no
    # CSE inside higher-order lambdas, see analysis.with_toks.
    bigrams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - 2),
        lambda i: F.concat_ws(
            " ", F.element_at(toks, i + 1), F.element_at(toks, i + 2)
        ),
    )
    return (
        with_toks(t["documents"])
        .filter(F.size(toks) >= 2)
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "bigram")
        .limit(TOP_K)
    )


@query(
    "contamination_test_vs_train",
    oracle=f"""
    WITH {_SHINGLES_SQL},
    labeled AS (
      SELECT doc_id, shingle, {_bucket_sql("doc_id")} AS b FROM shingles
    ),
    test_sh AS (SELECT doc_id, shingle FROM labeled WHERE b < {_TEST_HI}),
    train_sh AS (SELECT DISTINCT shingle FROM labeled WHERE b >= {_TRAIN_LO})
    SELECT t.doc_id, COUNT(*) AS n_shared
    FROM test_sh t JOIN train_sh USING (shingle)
    GROUP BY t.doc_id
    """,
)
def contamination_test_vs_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every doc in the deterministic 'test' split, how many of its
    3-token shingles also occur anywhere in the 'train' split — the
    standard benchmark-contamination screen. Splits are the same
    hash-bucket ranges as `sampling.train_val_test_split`, so this query
    audits exactly the splits the pipeline would ship."""
    t = load_tables(spark, sf_dir)
    sh = shingle_df(with_toks(t["documents"])).withColumn(
        "b", hash_bucket(F.col("doc_id"))
    )
    test_sh = sh.filter(F.col("b") < _TEST_HI).select("doc_id", "shingle")
    train_sh = sh.filter(F.col("b") >= _TRAIN_LO).select("shingle").distinct()
    return (
        test_sh.join(train_sh, "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


# --------------------------------------------------------------------------
# Graded contamination: per-TRAIN-doc overlap fraction + removal verdict
# --------------------------------------------------------------------------
# verdict bands on the ROUNDED fraction (6 dp), so both engines decide
# boundaries identically
_CONTAM_CLEAN_MAX = 0.05
_CONTAM_PARTIAL_MAX = 0.5


@query(
    "contamination_overlap_fraction",
    oracle=f"""
    WITH {_SHINGLES_SQL},
    labeled AS (
      SELECT doc_id, shingle, {_bucket_sql("doc_id")} AS b FROM shingles
    ),
    train_sh AS (SELECT doc_id, shingle FROM labeled WHERE b >= {_TRAIN_LO}),
    test_set AS (SELECT DISTINCT shingle FROM labeled WHERE b < {_TEST_HI}),
    per AS (
      SELECT t.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_shingles,
             CAST(SUM(CASE WHEN s.shingle IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_overlap
      FROM train_sh t LEFT JOIN test_set s ON t.shingle = s.shingle
      GROUP BY t.doc_id
    )
    SELECT doc_id, n_shingles, n_overlap,
           ROUND(CAST(n_overlap AS DOUBLE) / n_shingles, 6) AS overlap_frac,
           CASE
             WHEN ROUND(CAST(n_overlap AS DOUBLE) / n_shingles, 6)
                  <= {_CONTAM_CLEAN_MAX} THEN 'clean'
             WHEN ROUND(CAST(n_overlap AS DOUBLE) / n_shingles, 6)
                  <= {_CONTAM_PARTIAL_MAX} THEN 'partial'
             ELSE 'contaminated'
           END AS verdict
    FROM per
    """,
)
def contamination_overlap_fraction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """GRADED decontamination (the metric, not just the screen): for
    every doc in the TRAIN split — the side decontamination actually
    acts on — the fraction of its shingle occurrences that appear
    anywhere in the benchmark ('test') split, banded into the removal
    verdict a pipeline applies: 'clean' (<= 5%, keep), 'partial'
    (<= 50%, span-level surgery — see dedup_exact_substring), else
    'contaminated' (drop). The boolean screens
    (contamination_test_vs_train, the bloom variant) answer "is there
    ANY overlap"; this one answers "how much", which is what separates
    a quoted benchmark sentence from a wholesale test-set copy.

    Plan: the benchmark shingle set is DISTINCT and benchmark-sized —
    broadcast; the train side is one scan + broadcast left join +
    per-doc count. At 100 TB this costs exactly one pass over training
    shingles, the same budget the boolean screen spends."""
    t = load_tables(spark, sf_dir)
    sh = shingle_df(with_toks(t["documents"])).withColumn(
        "b", hash_bucket(F.col("doc_id"))
    )
    train_sh = sh.filter(F.col("b") >= _TRAIN_LO).select("doc_id", "shingle")
    test_set = (
        sh.filter(F.col("b") < _TEST_HI)
        .select(F.col("shingle").alias("t_shingle"))
        .distinct()
    )
    per = (
        train_sh.join(
            F.broadcast(test_set),
            train_sh["shingle"] == test_set["t_shingle"],
            "left",
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum(F.col("t_shingle").isNotNull().cast("int"))
            .cast("bigint")
            .alias("n_overlap"),
        )
    )
    frac = F.round(
        F.col("n_overlap").cast("double") / F.col("n_shingles"), 6
    )
    return per.select(
        "doc_id",
        "n_shingles",
        "n_overlap",
        frac.alias("overlap_frac"),
        F.when(frac <= _CONTAM_CLEAN_MAX, "clean")
        .when(frac <= _CONTAM_PARTIAL_MAX, "partial")
        .otherwise("contaminated")
        .alias("verdict"),
    )


# --------------------------------------------------------------------------
# Bloom-prefiltered contamination: the 100 TB plan shape
# --------------------------------------------------------------------------
_BLOOM_K = 5           # hash functions
_BLOOM_BITS_PER_KEY = 16  # m = next_pow2(16n): fpr ~ (1 - e^(-5/16))^5 ≈ 0.2%
_BLOOM_MIN_BITS = 1 << 13


def bloom_build(
    spark: SparkSession, keys: DataFrame, col: str,
    k: int = _BLOOM_K, bits_per_key: int = _BLOOM_BITS_PER_KEY,
    m_bits: int | None = None,
) -> tuple[DataFrame, int]:
    """Fold a (small) key column into an m-bit bloom bitset.

    Returns a ONE-ROW DataFrame carrying the bitset as array<long>
    (packed 64 bits/word, word w covers bits [64w, 64w+64)) plus the
    chosen m. m is the next power of two ≥ bits_per_key * n(keys), so
    the false-positive rate is stable as the key set grows — the same
    "capacity must grow with the data" lesson as adaptive IVF cells.

    Two bounded driver actions: count(n) and the ≤ m/64-row word
    collect — the bitset itself is the point (it must fit on every
    executor). Ship it with F.broadcast(...).crossJoin, never as a plan
    literal: a production bloom is 100s of MB.

    Bit positions are pmod(xxhash64(i, key), m) for seed i in 0..k-1 —
    the same JVM expression the membership test replays, so build and
    probe can never disagree.
    """
    if m_bits is not None:
        # caller pins m (required for bloom_merge compatibility) — but a
        # pinned m must still hold the structural invariant (word-packed
        # bitset: 64 | m) and the fpr guarantee (>= bits_per_key per key;
        # callers accepting a higher fpr say so by lowering bits_per_key)
        if m_bits < 64 or m_bits % 64 != 0:
            raise ValueError(f"m_bits={m_bits} must be a positive multiple of 64")
        n = keys.count()
        if m_bits < bits_per_key * n:
            raise ValueError(
                f"m_bits={m_bits} undersized for {n} keys at {bits_per_key} "
                "bits/key — the fpr guarantee is void; pass a lower "
                "bits_per_key to accept a higher fpr explicitly"
            )
        m = m_bits
    else:
        n = keys.count()
        m = _BLOOM_MIN_BITS
        while m < bits_per_key * n:
            m *= 2
    # seeds must be BIGINT on both sides: xxhash64 hashes by input type,
    # so lit(i) (int) and `iL` (bigint) would disagree silently.
    pos = F.explode(
        F.array(*[
            F.pmod(F.xxhash64(F.lit(i).cast("bigint"), F.col(col)), F.lit(m))
            for i in range(k)
        ])
    ).alias("pos")
    words = (
        keys.select(pos)
        .groupBy(F.shiftright("pos", 6).alias("w"))
        .agg(F.bit_or(F.expr("shiftleft(1L, cast(pos % 64 as int))")).alias("bits"))
        .collect()
    )
    bitset = [0] * (m // 64)
    for r in words:
        bitset[r.w] = r.bits
    return spark.createDataFrame([(bitset,)], "bloom: array<bigint>"), m


def bloom_might_contain(
    bloom_col: str, key_col: str, m_bits: int, k: int = _BLOOM_K
) -> Column:
    """JVM-only membership test against a packed array<long> bitset
    column: k xxhash64 probes, each a word lookup + bit AND. No false
    negatives; false positives at the designed fpr. Pure Catalyst
    expressions (codegen'd; repeated hashes collapse via CSE) — the
    100 TB scan side never touches Python."""
    tests = []
    for i in range(k):
        p = f"pmod(xxhash64({i}L, {key_col}), {m_bits}L)"
        tests.append(
            f"(element_at({bloom_col}, cast(shiftright({p}, 6) as int) + 1)"
            f" & shiftleft(1L, cast({p} % 64 as int))) != 0"
        )
    return F.expr(" AND ".join(tests))


@query(
    "contamination_train_bloom",
    oracle=f"""
    WITH {_SHINGLES_SQL},
    labeled AS (
      SELECT doc_id, shingle, {_bucket_sql("doc_id")} AS b FROM shingles
    ),
    test_sh AS (SELECT DISTINCT shingle FROM labeled WHERE b < {_TEST_HI}),
    train_sh AS (SELECT doc_id, shingle FROM labeled WHERE b >= {_TRAIN_LO})
    SELECT t.doc_id, COUNT(*) AS n_test_shingles
    FROM train_sh t JOIN test_sh USING (shingle)
    GROUP BY t.doc_id
    """,
)
def contamination_train_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Find TRAIN documents contaminated by the benchmark ('test')
    split — the direction a real curation pipeline runs (drop the train
    docs, keep the benchmark) — with the bloom prefilter that makes it
    viable at 100 TB: the benchmark shingle vocabulary (small side)
    folds into a broadcast bloom bitset, and the train-side scan tests
    every shingle against it in JVM bit arithmetic BEFORE any shuffle.
    Only the ~0.2% surviving shingles reach the exact join, so the
    shuffle carries the match set, not the corpus. Blooms admit no
    false negatives and the exact join removes the false positives, so
    the result is bit-identical to the unfiltered join — which is
    exactly what the oracle runs."""
    t = load_tables(spark, sf_dir)
    docs = with_toks(t["documents"]).withColumn("b", hash_bucket(F.col("doc_id")))
    # persisted: bloom_build runs two actions on it (count + word
    # collect) and the exact-verify join reads it a third time —
    # without the persist each one re-scans and re-distincts documents
    test_sh = lazy_persist(
        shingle_df(docs.filter(F.col("b") < _TEST_HI))
        .select("shingle")
        .distinct()
    )
    # train side stays OCCURRENCES (distinct=False) through the bloom
    # probe: shingle_df's per-doc distinct is itself a full-corpus
    # shuffle, and running it before the filter re-creates exactly the
    # exchange the prefilter exists to avoid (caught in the plan audit —
    # the Exchange sat UNDER the bloom Filter). Dedupe only the
    # survivors: distinct(filter(x)) == filter(distinct(x)) for a
    # per-row predicate, so the result is unchanged.
    train_occ = shingle_df(
        docs.filter(F.col("b") >= _TRAIN_LO), distinct=False
    ).select("doc_id", "shingle")
    bloom, m = bloom_build(spark, test_sh, "shingle")
    survivors = (
        train_occ.crossJoin(F.broadcast(bloom))
        .filter(bloom_might_contain("bloom", "shingle", m))
        .drop("bloom")
        .distinct()
    )
    return (
        survivors.join(test_sh, "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_test_shingles"))
    )


@query(
    "streaming_contamination_screen",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {{toks}} AS toks FROM documents),
    occ AS (
      SELECT doc_id, concat_ws(' ', toks[i], toks[i+1], toks[i+2]) AS shingle
      FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS i
            FROM toks WHERE len(toks) >= 3)
    ),
    labeled AS (
      SELECT doc_id, shingle, {_bucket_sql("doc_id")} AS b FROM occ
    ),
    test_sh AS (SELECT DISTINCT shingle FROM labeled WHERE b < {_TEST_HI}),
    train_occ AS (SELECT doc_id, shingle FROM labeled WHERE b >= {_TRAIN_LO})
    SELECT t.doc_id, COUNT(*) AS n_test_hits
    FROM train_occ t JOIN test_sh USING (shingle)
    GROUP BY t.doc_id
    """.format(toks=_TOKS_SQL),
)
def streaming_contamination_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Screen each INCOMING document drop for benchmark contamination as
    it lands — the streaming face of `contamination_train_bloom`: the
    benchmark bloom bitset is built once on the static side, rides into
    every micro-batch as a broadcast stream-static join (1-row bitset +
    the small exact-verify vocabulary), and the stream stays stateless
    through shingle/bloom/verify so the per-doc hit count is the plan's
    ONE stateful operator (a streaming plan gets exactly one without
    watermark gymnastics — which is also why the shingles here are
    occurrences, not per-doc distinct: distinct would be a second).
    Counts are hit OCCURRENCES (each repeated contaminated shingle
    counts), which is what the oracle replays. availableNow processing
    makes the result equal to the batch join."""
    from disco_spark.streaming.windows import run_stream_to_memory

    t = load_tables(spark, sf_dir)
    static_sh = shingle_df(with_toks(t["documents"])).withColumn(
        "b", hash_bucket(F.col("doc_id"))
    )
    # persisted: bloom_build runs two actions, and every micro-batch
    # re-evaluates the broadcast verify side without it
    test_sh = lazy_persist(
        static_sh.filter(F.col("b") < _TEST_HI).select("shingle").distinct()
    )
    bloom, m = bloom_build(spark, test_sh, "shingle")
    bloom_keyed = bloom.withColumn("__k", F.lit(1))

    def screen(stream: DataFrame) -> DataFrame:
        train = stream.filter(hash_bucket(F.col("doc_id")) >= _TRAIN_LO)
        occ = shingle_df(with_toks(train), distinct=False)
        survivors = (
            occ.withColumn("__k", F.lit(1))
            .join(F.broadcast(bloom_keyed), "__k")
            .filter(bloom_might_contain("bloom", "shingle", m))
            .select("doc_id", "shingle")
        )
        return (
            survivors.join(F.broadcast(test_sh), "shingle")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_test_hits"))
        )

    return run_stream_to_memory(
        spark, sf_dir, screen,
        output_mode="complete", watermark=None,
        source_file="documents.parquet",
    )


def bloom_merge(blooms: list[DataFrame]) -> DataFrame:
    """OR same-sized bloom bitsets into one — blooms are mergeable like
    every sketch in this repo's rollup family, and the merge is EXACT:
    build(A) | build(B) is bit-identical to build(A UNION B) because a
    key's bit positions depend only on (key, m). Use case: benchmark
    suite v2 lands — merge its bloom into the standing one instead of
    rebuilding over the union.

    Mixed-m inputs are REJECTED loudly (the size probe is one 1-row
    action per input): ORing bitsets built under different moduli
    yields a bloom with false negatives — the one guarantee a bloom
    must never break — so silent acceptance is the worst outcome. The
    merge itself is a zip_with word-wise OR folded across the 1-row
    frames: no explode, no shuffle, no driver visit — the shape that
    still works when each bitset is hundreds of MB."""
    if not blooms:
        raise ValueError("bloom_merge needs at least one bloom")
    sizes = [b.select(F.size("bloom").alias("s")).first()["s"] for b in blooms]
    if len(set(sizes)) != 1:
        raise ValueError(
            "bloom_merge: mismatched m across inputs "
            f"(m = {sorted({s * 64 for s in sizes})}); ORing different-m "
            "bitsets would produce false negatives"
        )
    merged = blooms[0].select("bloom")
    for b in blooms[1:]:
        merged = merged.crossJoin(
            b.select(F.col("bloom").alias("__other"))
        ).select(
            F.zip_with("bloom", "__other", lambda x, y: x.bitwiseOR(y)).alias("bloom")
        )
    return merged


KL_VOCAB = 500


@query(
    "text_kl_unigram_by_source",
    # KL(source || corpus) over the top-500 corpus unigrams with
    # add-one smoothing — the text-drift sibling of the numeric PSI
    # monitor. Ranked vocab cut on exact counts (term tie-break);
    # probability ratios are exact-integer ratios; terms fold as
    # DECIMAL(28,15).
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest({{toks}}) AS term FROM documents
    ),
    vocab AS (
      SELECT term, cnt FROM (
        SELECT term, COUNT(*) AS cnt,
               ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, term) AS rn
        FROM tok GROUP BY term
      ) WHERE rn <= {KL_VOCAB}
    ),
    corpus_tot AS (SELECT SUM(cnt) AS ct FROM vocab),
    src AS (
      SELECT t.source, t.term, COUNT(*) AS c
      FROM tok t JOIN vocab v USING (term)
      GROUP BY 1, 2
    ),
    grid AS (
      SELECT s.source, v.term, v.cnt,
             COALESCE(src.c, 0) + 1 AS c_smooth
      FROM (SELECT DISTINCT source FROM documents) s
      CROSS JOIN vocab v
      LEFT JOIN src ON src.source = s.source AND src.term = v.term
    ),
    src_tot AS (
      SELECT source, SUM(c_smooth) AS st FROM grid GROUP BY 1
    ),
    terms AS (
      SELECT g.source,
             CAST((CAST(g.c_smooth AS DOUBLE) / t.st)
                  * ln((CAST(g.c_smooth AS DOUBLE) / t.st)
                       / ((CAST(g.cnt AS DOUBLE) + 1) / (c.ct + {KL_VOCAB})))
                  AS DECIMAL(28,15)) AS kl_term
      FROM grid g
      JOIN src_tot t USING (source)
      CROSS JOIN corpus_tot c
    )
    SELECT source,
           ROUND(CAST(SUM(kl_term) AS DOUBLE), 6) AS kl_divergence
    FROM terms GROUP BY source
    """.replace("{toks}", _TOKS_SQL),
)
def text_kl_unigram_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution drift per source: KL(source || corpus) over
    the top-500 corpus unigrams, add-one smoothed on both sides — the
    text sibling of the numeric PSI monitor (drift_psi_sources): which
    feeds' language diverges from the corpus mix.

    The vocab is a bounded exact TakeOrdered broadcast onto the token
    scan; the (source x vocab) grid is |sources| * 500 cells; KL terms
    fold as DECIMAL(28,15) so the statistic is shuffle-order-free."""
    from disco_spark.textops.analysis import with_toks

    t = load_tables(spark, sf_dir)
    tok = with_toks(t["documents"]).select(
        "source", F.explode("toks").alias("term")
    )
    vocab = (
        tok.groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("term"))
        .limit(KL_VOCAB)
    )
    corpus_tot = F.broadcast(vocab.agg(F.sum("cnt").alias("ct")))
    src = (
        tok.join(F.broadcast(vocab.select("term")), "term")
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sources = t["documents"].select("source").distinct()
    grid = (
        sources.crossJoin(F.broadcast(vocab))
        .join(src, ["source", "term"], "left")
        .withColumn("c_smooth", F.coalesce(F.col("c"), F.lit(0)) + 1)
    )
    src_tot = grid.groupBy("source").agg(F.sum("c_smooth").alias("st"))
    p = F.col("c_smooth").cast("double") / F.col("st")
    q = (F.col("cnt").cast("double") + 1) / (
        F.col("ct") + F.lit(KL_VOCAB)
    )
    terms = (
        grid.join(F.broadcast(src_tot), "source")
        .crossJoin(corpus_tot)
        .select(
            "source",
            (p * F.log(p / q)).cast("decimal(28,15)").alias("kl_term"),
        )
    )
    return terms.groupBy("source").agg(
        F.round(F.sum("kl_term").cast("double"), 6).alias("kl_divergence")
    )


# ---------------------------------------------------------------------------
# PMI collocations — vocab_top_bigrams ranks by raw frequency, which
# surfaces stopword pairs; pointwise mutual information normalizes by
# the unigram marginals and surfaces the pairs that co-occur far more
# than chance (the collocation-mining primitive behind phrase
# vocabularies and tokenizer merge candidates).
# ---------------------------------------------------------------------------
PMI_MIN_COUNT = 5  # noise floor: a 1-count pair can have huge PMI
PMI_TOPK = 25


@query(
    "vocab_pmi_collocations",
    oracle=f"""
    WITH toks AS (SELECT {_TOKS_SQL} AS toks FROM documents),
    uni AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS n_w
      FROM (SELECT unnest(toks) AS w FROM toks) GROUP BY 1
    ),
    u AS (SELECT CAST(SUM(n_w) AS BIGINT) AS u_tot FROM uni),
    big AS (
      SELECT toks[i] AS w1, toks[i+1] AS w2,
             CAST(COUNT(*) AS BIGINT) AS n_xy
      FROM (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
            FROM toks WHERE len(toks) >= 2)
      GROUP BY 1, 2
    ),
    b AS (SELECT CAST(SUM(n_xy) AS BIGINT) AS b_tot FROM big)
    SELECT concat_ws(' ', w1, w2) AS bigram, n_xy,
           ROUND(log2((CAST(n_xy AS DOUBLE) / b_tot)
                      / ((CAST(u1.n_w AS DOUBLE) / u_tot)
                         * (CAST(u2.n_w AS DOUBLE) / u_tot))), 6) AS pmi
    FROM big
    JOIN uni u1 ON u1.w = big.w1
    JOIN uni u2 ON u2.w = big.w2, u, b
    WHERE n_xy >= {PMI_MIN_COUNT}
    ORDER BY pmi DESC, bigram LIMIT {PMI_TOPK}
    """,
)
def vocab_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{PMI_TOPK} collocations by PMI = log2(p(xy) / (p(x)p(y)))
    over adjacent token bigrams with count >= {PMI_MIN_COUNT}.
    Marginals come from unigram occurrence counts, the joint from
    bigram counts — all exact integers; the PMI is ONE rounded log2
    per surviving bigram (the entropy-query log determinism
    precedent), so ranking and values replay identically.

    Plan: one tokenized scan persisted, exploded twice (unigrams,
    bigram structs), two grouped counts, two hash joins to attach
    marginals, totals as lazy 1-row cross-joined aggregates, bounded
    top-k. At 100 TB both count tables partial-aggregate map-side;
    the marginal joins key on the word — broadcastable only if the
    vocab is small, hash-join otherwise (left to AQE)."""
    t = load_tables(spark, sf_dir)
    base = lazy_persist(with_toks(t["documents"]).select("toks"))
    toks = F.col("toks")
    uni = (
        base.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_w"))
    )
    uni = lazy_persist(uni)
    u = uni.agg(F.sum("n_w").cast("bigint").alias("u_tot"))
    pairs = F.transform(
        F.sequence(F.lit(0), F.size(toks) - 2),
        lambda i: F.struct(
            F.element_at(toks, i + 1).alias("w1"),
            F.element_at(toks, i + 2).alias("w2"),
        ),
    )
    big_all = (
        base.filter(F.size(toks) >= 2)
        .select(F.explode(pairs).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_xy"))
    )
    big_all = lazy_persist(big_all)
    # the bigram total is over ALL bigrams (the joint distribution),
    # not just those clearing the noise floor
    b = big_all.agg(F.sum("n_xy").cast("bigint").alias("b_tot"))
    big = big_all.filter(F.col("n_xy") >= PMI_MIN_COUNT)
    joined = (
        big.join(
            uni.select(F.col("w").alias("_w1"), F.col("n_w").alias("n1")),
            F.col("_w1") == F.col("w1"),
        )
        .join(
            uni.select(F.col("w").alias("_w2"), F.col("n_w").alias("n2")),
            F.col("_w2") == F.col("w2"),
        )
        .crossJoin(u)
        .crossJoin(b)
    )
    pmi = F.round(
        F.log2(
            (F.col("n_xy").cast("double") / F.col("b_tot"))
            / (
                (F.col("n1").cast("double") / F.col("u_tot"))
                * (F.col("n2").cast("double") / F.col("u_tot"))
            )
        ),
        6,
    )
    return (
        joined.select(
            F.concat_ws(" ", "w1", "w2").alias("bigram"),
            "n_xy",
            pmi.alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "bigram")
        .limit(PMI_TOPK)
    )


# ---------------------------------------------------------------------------
# Dunning log-likelihood keyness (G^2) between the held-out test split
# and the train split — the corpus-linguistics "what words
# characterize THIS corpus" statistic, and the per-word significance
# sibling of the distribution-level KL drift screen. High G^2 on a
# hash split should be noise; on a real drifted corpus it names the
# drifting vocabulary.
# ---------------------------------------------------------------------------
KEYNESS_MIN_COUNT = 5
KEYNESS_TOPK = 25


@query(
    "vocab_keyness_test_vs_train",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS_SQL}) AS w FROM documents
    ),
    labeled AS (
      SELECT w, CASE WHEN {_bucket_sql("doc_id")} < {_TEST_HI}
                     THEN 1 ELSE 0 END AS is_test
      FROM toks
    ),
    c AS (
      SELECT w, CAST(SUM(is_test) AS BIGINT) AS a,
             CAST(SUM(1 - is_test) AS BIGINT) AS b
      FROM labeled GROUP BY 1
    ),
    n AS (
      SELECT CAST(SUM(a) AS BIGINT) AS n1, CAST(SUM(b) AS BIGINT) AS n2
      FROM c
    ),
    g2 AS (
      SELECT c.w, c.a, c.b,
             ROUND(2 * (
               CASE WHEN c.a > 0
                    THEN c.a * ln(CAST(c.a AS DOUBLE)
                         / (CAST(c.a + c.b AS DOUBLE) * n.n1
                            / (n.n1 + n.n2)))
                    ELSE 0 END
               + CASE WHEN c.b > 0
                      THEN c.b * ln(CAST(c.b AS DOUBLE)
                           / (CAST(c.a + c.b AS DOUBLE) * n.n2
                              / (n.n1 + n.n2)))
                      ELSE 0 END), 6) AS g2,
             CASE WHEN CAST(c.a AS DOUBLE) * n.n2
                       > CAST(c.b AS DOUBLE) * n.n1
                  THEN 'test' ELSE 'train' END AS overused_in
      FROM c, n WHERE c.a + c.b >= {KEYNESS_MIN_COUNT}
    )
    SELECT w, a AS n_test, b AS n_train, g2, overused_in
    FROM g2 ORDER BY g2 DESC, w LIMIT {KEYNESS_TOPK}
    """,
)
def vocab_keyness_test_vs_train(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-{KEYNESS_TOPK} key words by Dunning's G^2 between the
    md5-bucket test and train splits (the repo's one split
    convention): G^2 = 2*sum(observed * ln(observed/expected)) over
    the 2-cell word row, zero-count cells contributing zero. The
    over/under flag compares exact integer cross-products (a*n2 vs
    b*n1 — no float at the decision). One ln per surviving word,
    rounded before ranking. On a hash split this reads as chi-square
    noise — the A/A null; the operator's purpose is real corpus
    pairs.

    Plan: one tokenized scan, a grouped 2-cell count per word,
    totals as a cross-joined 1-row aggregate, bounded top-k."""
    t = load_tables(spark, sf_dir)
    toks = with_toks(t["documents"]).select(
        "doc_id", F.explode("toks").alias("w")
    )
    labeled = toks.select(
        "w",
        (hash_bucket(F.col("doc_id")) < _TEST_HI).cast("int").alias(
            "is_test"
        ),
    )
    c = labeled.groupBy("w").agg(
        F.sum("is_test").cast("bigint").alias("a"),
        F.sum(F.lit(1) - F.col("is_test")).cast("bigint").alias("b"),
    )
    c = lazy_persist(c)
    n = c.agg(
        F.sum("a").cast("bigint").alias("n1"),
        F.sum("b").cast("bigint").alias("n2"),
    )
    ntot = F.col("n1") + F.col("n2")
    ea = (F.col("a") + F.col("b")).cast("double") * F.col("n1") / ntot
    eb = (F.col("a") + F.col("b")).cast("double") * F.col("n2") / ntot
    term_a = F.when(
        F.col("a") > 0,
        F.col("a") * F.log(F.col("a").cast("double") / ea),
    ).otherwise(F.lit(0.0))
    term_b = F.when(
        F.col("b") > 0,
        F.col("b") * F.log(F.col("b").cast("double") / eb),
    ).otherwise(F.lit(0.0))
    g2 = F.round(2 * (term_a + term_b), 6)
    overused = F.when(
        F.col("a").cast("double") * F.col("n2")
        > F.col("b").cast("double") * F.col("n1"),
        "test",
    ).otherwise("train")
    return (
        c.filter(F.col("a") + F.col("b") >= KEYNESS_MIN_COUNT)
        .crossJoin(F.broadcast(n))
        .select(
            "w",
            F.col("a").alias("n_test"),
            F.col("b").alias("n_train"),
            g2.alias("g2"),
            overused.alias("overused_in"),
        )
        .orderBy(F.desc("g2"), "w")
        .limit(KEYNESS_TOPK)
    )
