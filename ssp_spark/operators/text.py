"""Text-analysis operators for training-data pipelines.

All pure Catalyst expressions (no Python UDFs): language-ID, quality
scoring, token counting, and fingerprinting each compile into a single
projection over the documents scan, so they stream through 100 TB with
zero shuffles and full whole-stage codegen.

Not present in the reference (its users write Go closures,
affo/ssp node.go:57-64); these are the §6-extension operators the
build plan calls for.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from ssp_spark.functions import portable_hash64, shingles, tokens

# Marker-word language heuristic: score each language by counts of its
# marker tokens; highest count wins, 'und' when all zero. Deliberately
# simple so the DuckDB oracle can replicate it exactly; a real pipeline
# would swap in a charset/ngram model behind the same column contract.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "fast", "slow"),
    "de": ("data", "value", "row"),
    "fr": ("query", "filter", "merge"),
}

STOPWORDS = ("the", "a", "of", "and")

WORD_RE = r"[a-z0-9]+"  # BPE-ish word pieces: lowercase alnum runs


def _count_occurrences(toks: Column, words: tuple[str, ...]) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def lang_id(df: DataFrame, text_col: str = "text", out_col: str = "lang_pred") -> DataFrame:
    toks = tokens(F.col(text_col))
    scores = {lang: _count_occurrences(toks, ws) for lang, ws in LANG_MARKERS.items()}
    # deterministic argmax: tie broken by fixed language order en > de > fr
    en, de, fr = scores["en"], scores["de"], scores["fr"]
    pred = (
        F.when((en >= de) & (en >= fr) & (en > 0), F.lit("en"))
        .when((de >= fr) & (de > 0), F.lit("de"))
        .when(fr > 0, F.lit("fr"))
        .otherwise(F.lit("und"))
    )
    return df.withColumn(out_col, pred)


def _quality_e4_raw(n: Column, total_len: Column, n_stop: Column) -> Column:
    """The ONE home of the quality formula (both quality_score and
    quality_e4_expr build from it, so the next formula change edits a
    single Spark-side site — its six oracle SQL copies are located by
    grepping the 0.42375 tie note below).

    Length factor saturates at 200 tokens; mild stopword presence is
    good. The 0.5/0.3/0.2 weighted sum is computed in EXACT integer
    arithmetic: the round-7 sf0.1 sweep caught a document whose true
    quality is 0.42375 — a true 4-decimal tie whose double is NOT
    exactly representable, where Spark's BigDecimal HALF_UP (sees the
    double just below the tie -> 0.4237) and DuckDB's multiply-then-
    rint (the multiply rounds up onto the tie -> 0.4238) disagree.
    quality = [n*min(n,200) + 120*min(4s,n) + 10*min(L,8n)] / (400n)
    exactly, so the e4-scaled score is HALF_UP((50*NUM + n) / (2n)) —
    pure integers, identical in any engine; the /10^4 display division
    is a single double op on an exact 4-decimal rational (no 5th
    decimal exists, so no tie is reachable). floor() on doubles is
    exact here: 50*NUM + n < 2^53 for any n < 2^38 tokens/doc.
    Undefined (division by zero) when n = 0 — callers gate on n > 0."""
    n_l, s_l, l_l = (c.cast("long") for c in (n, n_stop, total_len))
    num = (
        n_l * F.least(n_l, F.lit(200))
        + 120 * F.least(4 * s_l, n_l)
        + 10 * F.least(l_l, 8 * n_l)
    )
    return F.floor((50 * num + n_l) / (2 * n_l))


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds n_tokens, avg_token_len, stopword_ratio, quality (0..1).
    quality = the exact e4 integer score (_quality_e4_raw) / 10^4."""
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    total_len = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    n_stop = _count_occurrences(toks, STOPWORDS)
    avg_len = F.when(n > 0, total_len / n).otherwise(F.lit(0.0))
    stop_ratio = F.when(n > 0, n_stop / n).otherwise(F.lit(0.0))
    q_e4 = _quality_e4_raw(n, total_len, n_stop).cast("long")
    quality = F.when(n > 0, q_e4 / F.lit(10000.0)).otherwise(F.lit(0.0))
    return (
        df.withColumn("n_tokens", n)
        .withColumn("avg_token_len", F.round(avg_len, 4))
        .withColumn("stopword_ratio", F.round(stop_ratio, 4))
        .withColumn("quality", quality)
    )


def quality_e4_expr(text_col: str = "text"):
    """The e4-scaled integer quality score as a bare Column — the exact
    integer rational quality_score() divides by 10^4 for display (same
    _quality_e4_raw expression, same HALF_UP integer division).
    For rank/quantile consumers that must never touch a float."""
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    total_len = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    n_stop = _count_occurrences(toks, STOPWORDS)
    return (
        F.when(n > 0, _quality_e4_raw(n, total_len, n_stop))
        .otherwise(F.lit(0))
        .cast("long")
    )


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token count + BPE-ish piece count (regexp-extracted)."""
    ws = F.size(tokens(F.col(text_col)))
    pieces = F.size(F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(WORD_RE), 0))
    return df.withColumn("ws_tokens", ws).withColumn("piece_tokens", pieces)


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 2
) -> DataFrame:
    """Gopher-style within-document repetition signals, zero-shuffle.

    Adds per-document ``n_bigrams``, ``top_bigram_frac`` (occurrences of
    the most frequent word n-gram / total n-grams — Gopher's "fraction in
    most common 2-gram" rule) and ``dup_bigram_frac`` (fraction of n-gram
    occurrences that are repeats), plus the ``keep`` filter decision.

    Plan shape: sort each row's n-gram array once, then a single
    ``aggregate`` fold counts the longest equal run (= max frequency,
    since equal grams are adjacent after the sort) and the distinct count
    — a pure projection, no explode, no shuffle, whole-stage codegen.
    This is the 100 TB shape: corpus quality filtering streams through
    the scan at IO speed.

    Contract: documents with fewer than ``n`` tokens have no n-grams and
    are EXCLUDED (a repetition score is undefined on them); filter them
    with a length rule first.
    """
    grams = F.array_sort(shingles(F.col(text_col), n))
    zero = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("maxr"),
        F.lit(0).alias("nd"),
    )

    def step(acc, x):  # noqa: ANN001 - Catalyst lambda
        run = F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc.maxr, run).alias("maxr"),
            (acc.nd + F.when(x == acc.prev, F.lit(0)).otherwise(F.lit(1))).alias("nd"),
        )

    st = F.aggregate(grams, zero, step)
    ng = F.size(grams)
    return (
        df.select(id_col, ng.alias("n_bigrams"), st.maxr.alias("__maxr"), st.nd.alias("__nd"))
        .filter(F.col("n_bigrams") > 0)
        .select(
            id_col,
            "n_bigrams",
            F.round(F.col("__maxr") / F.col("n_bigrams"), 4).alias("top_bigram_frac"),
            F.round((F.col("n_bigrams") - F.col("__nd")) / F.col("n_bigrams"), 4).alias(
                "dup_bigram_frac"
            ),
            (
                (F.col("__maxr") / F.col("n_bigrams") <= 0.18)
                & ((F.col("n_bigrams") - F.col("__nd")) / F.col("n_bigrams") <= 0.30)
            )
            .cast("int")
            .alias("keep"),
        )
    )


def corpus_ngram_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 6
) -> DataFrame:
    """Cross-document repeated n-gram signal (exact-substring dedup family,
    per Lee et al. "Deduplicating Training Data Makes Language Models
    Better" — the scalable approximation: word n-grams instead of suffix
    arrays).

    For each document: how many of its distinct word n-grams also occur
    in at least one OTHER document (``n_shared``), the fraction
    (``shared_frac``), and a ``dup_flag`` at >= 0.5 — the "this document
    is mostly boilerplate seen elsewhere" signal.

    Plan: explode distinct n-grams -> window count over the n-gram key
    (one shuffle, partial-combine-free but key-partitioned) -> re-group
    by document (second shuffle, map-side combined). Both exchanges are
    on high-cardinality keys; no joins, no all-pairs anything.
    """
    from pyspark.sql.window import Window

    sh = df.select(
        F.col(id_col), F.explode(F.array_distinct(shingles(F.col(text_col), n))).alias("sh")
    )
    ndocs = F.count("*").over(Window.partitionBy("sh"))
    marked = sh.select(id_col, (ndocs > 1).cast("int").alias("is_shared"))
    per = marked.groupBy(id_col).agg(
        F.count("*").alias("n_ngrams"), F.sum("is_shared").alias("n_shared")
    )
    return per.select(
        id_col,
        "n_ngrams",
        "n_shared",
        F.round(F.col("n_shared") / F.col("n_ngrams"), 4).alias("shared_frac"),
        (F.col("n_shared") / F.col("n_ngrams") >= 0.5).cast("int").alias("dup_flag"),
    )


def contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """Benchmark-contamination scan: for each corpus document, the
    fraction of its distinct word n-grams that also occur in an
    evaluation/benchmark corpus (the pre-training hygiene check that
    keeps test sets out of training data; the n-gram-overlap method used
    by GPT-3/PaLM-style decontamination).

    Returns per-document ``n_grams`` (distinct n-grams), ``n_hit``
    (those present in the benchmark), ``contamination_frac``, and
    ``contaminated`` (frac >= threshold). Documents with fewer than
    ``n`` tokens have no n-grams and are excluded — a contamination
    fraction is undefined on them.

    Scale shape: benchmark suites are tiny (MBs) next to a 100 TB
    corpus, so the benchmark's distinct n-gram set is BROADCAST and the
    corpus side never shuffles for the membership test — explode is
    followed by a broadcast left-semi-ish join (left join + null test,
    so misses are countable) and one groupBy(doc) with map-side
    combine. The corpus is read once.
    """
    bench = benchmark.select(
        F.explode(F.array_distinct(shingles(F.col(text_col), n))).alias("bsh")
    ).distinct()
    grams = corpus.select(
        F.col(id_col), F.explode(F.array_distinct(shingles(F.col(text_col), n))).alias("sh")
    )
    hit = grams.join(F.broadcast(bench), grams.sh == bench.bsh, "left")
    per = hit.groupBy(id_col).agg(
        F.count("*").alias("n_grams"),
        F.count("bsh").alias("n_hit"),
    )
    frac = F.round(F.col("n_hit") / F.col("n_grams"), 4)
    return per.select(
        id_col,
        "n_grams",
        "n_hit",
        frac.alias("contamination_frac"),
        (frac >= threshold).cast("int").alias("contaminated"),
    )


# Gate for caching the exploded bigram stream inside lm_score (round 13,
# guide §5): the stream is consumed TWICE (model build + scoring), and
# recomputing it means paying the tokenize + shingle HOF + explode — the
# query's dominant cost — a second time. Caching wins when the stream
# fits the cluster's storage fraction and loses when it cannot: the
# columnar-cached stream measures ~100x the compressed parquet input
# (every bigram materializes both words), so the gate keys on INPUT
# bytes. 256 MiB input (~25 GiB cached, trivially spread over any real
# cluster's executors) persists; a 100 TB corpus (~10 PB cached) never
# does — it keeps the prior recompute plan, whose second pass is pure
# CPU over the already-exchanged rows. Unknown input size (non-file
# sources) takes the safe recompute path.
_LM_PERSIST_INPUT_BYTES = 256 << 20

# One cached stream per session: each lm_score call releases the
# previous call's blocks (VERDICT r12 #4 — leaked persist blocks degrade
# late bench samples under GC pressure). An unpersisted frame whose plan
# is still live recomputes transparently from lineage. Weak keys
# (VERDICT r13 #3): a plain dict would hold a strong ref to each dead
# SparkSession (and its last persisted stream frame) in a long-lived
# process that cycles sessions — same policy as queries._ARTIFACTS.
import weakref as _weakref

_LM_STREAM_CACHE: "_weakref.WeakKeyDictionary" = _weakref.WeakKeyDictionary()


def _scan_input_bytes(df: DataFrame) -> int | None:
    """Total on-disk bytes behind a file-scan DataFrame, or None when
    the input is not a local file scan (empty list, remote scheme)."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    total = 0
    for f in files:
        p = f[7:] if f.startswith("file://") else f.removeprefix("file:")
        try:
            total += os.path.getsize(p)
        except OSError:
            return None
    return total


def lm_score(
    corpus: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus-trained bigram language-model document scoring (the
    CCNet/Wikipedia-LM-perplexity quality-filter family, with the
    KenLM swapped for an in-engine word-bigram MLE model so the whole
    thing is one Spark job and exactly oracle-checkable).

    Model: P(w2 | w1) = c(w1 w2) / c(w1 ·) over the corpus itself
    (maximum-likelihood, no smoothing needed — every scored bigram is by
    construction in the training counts). Per document: ``n_bigrams``,
    ``avg_logprob`` = mean ln P over its bigram stream, and ``ppl`` =
    exp(-avg_logprob), the per-token perplexity. Low-perplexity docs are
    repetitive/templated; high-perplexity docs are noise — the standard
    curation signal cuts both tails. Documents with < 2 tokens have no
    bigrams and are excluded (score undefined).

    Plan shape at 100 TB: the exploded bigram stream feeds ONE
    map-side-combined aggregation (bigram counts); the prefix counts
    c(w1 ·) are a window over that MODEL frame (partitions = bigrams per
    prefix word) — a model-sized pass, not another corpus scan and not a
    self-join — so the corpus is scanned exactly twice (model build +
    scoring). Under the input-size gate the stream is cached between
    the two consumers (one scan + one cached read); over it, the
    recompute plan stands (see _LM_PERSIST_INPUT_BYTES). The model is groupBy output, bounded by text entropy
    (vocab²), not corpus size, and joins back to the stream on the
    bigram key as a broadcast (word-bigram models are GBs at worst); the
    fallback is a plain shuffle join on the high-cardinality bigram key
    — never anything quadratic.

    The reference has no modeling operators at all; this is a §6
    extension over the same tokenizer contract as quality_score.
    """
    # rebalance before the explode: the shingle HOF + explode dominate
    # the cost, and fixture-style single-row-group parquet would pin the
    # whole fold to one task (same guard, same reason as
    # dedup.minhash_signatures — measured 7.2 s -> ~1.5 s at sf0.1; at
    # real scale the input's own splits already provide parallelism and
    # this round-robin exchange is the cheap insurance, not the plan)
    # hash-on-id spread, not round-robin: skips the keyless repartition's
    # retry-determinism local sort of the text rows (dedup._doc_shingles)
    spread = corpus.select(F.col(id_col), F.col(text_col)).repartition(
        corpus.sparkSession.sparkContext.defaultParallelism, id_col
    )
    bi = spread.select(
        F.col(id_col), F.explode(shingles(F.col(text_col), 2)).alias("bg")
    )
    # The stream feeds BOTH the model aggregate and the scoring join.
    # Under the input-size gate (see _LM_PERSIST_INPUT_BYTES above) it
    # is cached so the tokenize+shingle+explode — the dominant cost —
    # runs once instead of twice: measured at the 10x fixture, 6.38 ->
    # 3.29 s (fresh JVMs, min of 4, interleaved run concurring). Over
    # the gate (or for non-file inputs) the prior recompute plan is
    # unchanged — at 100 TB the cached stream would be ~100x the corpus
    # parquet bytes, the exact storage hazard guide §5 warns caching
    # trades into.
    session = corpus.sparkSession
    nbytes = _scan_input_bytes(corpus)
    if nbytes is not None and nbytes <= _LM_PERSIST_INPUT_BYTES:
        prev = _LM_STREAM_CACHE.pop(session, None)
        if prev is not None:
            try:
                prev.unpersist(False)
            except Exception:
                pass
        bi = bi.persist()
        _LM_STREAM_CACHE[session] = bi
    # bigram counts from the exploded stream; prefix counts c(w1 ·) are
    # DERIVED from the bigram counts as a window over the MODEL frame
    # (partitions = bigrams per prefix word, model-sized) — not a second
    # corpus pass and not a self-join that would duplicate the aggregate
    # subtree. The corpus is scanned exactly twice: model build + scoring.
    from pyspark.sql.window import Window

    c2 = bi.groupBy("bg").agg(F.count("*").alias("n2")).withColumn(
        "w1", F.split("bg", " ")[0]
    )
    n1 = F.sum("n2").over(Window.partitionBy("w1"))
    model = c2.select("bg", F.log(F.col("n2") / n1).alias("logp"))
    per = (
        bi.join(F.broadcast(model), "bg")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("int").alias("n_bigrams"),
            F.avg("logp").alias("__alp"),
        )
    )
    return per.select(
        id_col,
        "n_bigrams",
        F.round(F.col("__alp"), 4).alias("avg_logprob"),
        F.round(F.exp(-F.col("__alp")), 4).alias("ppl"),
    )


ROLL_B = 31  # polynomial base
ROLL_P = 1_000_000_007  # modulus; acc < p (~2^30), acc*B + h64 < 2^63: no overflow


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic document fingerprints over normalized text.

    fp_md5: full md5 hex; fp64: 60-bit integer prefix (portable_hash64),
    usable as a shuffle/dedup key anywhere; fp_roll: token-level
    polynomial ROLLING hash acc = (acc*B + h64(token)) mod P — the
    order-sensitive fingerprint (reordered tokens change it, unlike a
    bag-of-words hash), folded left-to-right so DuckDB's list_reduce
    reproduces it exactly.
    """
    normalized = F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " ")
    roll = F.aggregate(
        tokens(F.col(text_col)),
        F.lit(0).cast("long"),
        lambda acc, t: (acc * ROLL_B + portable_hash64(t)) % ROLL_P,
    )
    return (
        df.withColumn("fp_md5", F.md5(normalized))
        .withColumn("fp64", portable_hash64(normalized))
        .withColumn("fp_roll", roll)
    )


def bm25_topk(
    docs: DataFrame,
    queries: list[tuple[int, list[str]]],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 top-k retrieval: for each (qid, terms) query, the ``k``
    best-scoring documents under Okapi BM25 (Robertson et al., TREC-3;
    the Lucene-style "+1 inside the log" idf that keeps weights
    positive):

        idf(t)  = ln((N - df + 0.5) / (df + 0.5) + 1)
        w(t, D) = idf(t) * tf * (k1+1) / (tf + k1*((1-b) + b*dl/avgdl))
        score   = sum over query terms of w

    The retrieval counterpart of contamination(): where that flags
    benchmark overlap, this MINES the corpus — "find the documents most
    about X" for targeted curation, eval-set construction, or topic
    audits.

    Scale shape (the part that matters at 100 TB): the query vocabulary
    is a broadcast literal, so the corpus-side term explode is filtered
    to query terms BEFORE any shuffle — the tf aggregate carries at most
    |docs matching any term| x |vocab| rows, never the full posting
    list. Document length is a map-side projection folded into the same
    pass; (N, avgdl) is one scalar aggregate broadcast back; df is a
    |vocab|-bounded aggregate joined as a broadcast. One real shuffle
    (the tf groupBy) plus the final per-query top-k window.

    Cross-engine determinism: per-term contributions are integer-scaled
    (round(w * 1e6) as BIGINT) and SUMMED AS INTEGERS, so the per-doc
    score is independent of addition order in both engines; ranking
    sorts the scaled integer with doc_id ties. The one residual
    cross-engine hazard is a libm ULP difference inside ln() landing a
    contribution exactly on a .5 micro-unit boundary — not observed at
    any tested scale.

    Returns (qid, doc_id, rank, score) with score = scaled/1e6.
    """
    spark = docs.sparkSession
    qrows = [(int(qid), t) for qid, terms in queries for t in terms]
    qdf = F.broadcast(
        spark.createDataFrame(qrows, "qid int, term string").distinct()
    )
    vocab = sorted({t for _, terms in queries for t in terms})

    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        tokens(F.col(text_col)).alias("__toks"),
    ).select(
        "doc_id",
        F.size("__toks").alias("dl"),
        F.explode("__toks").alias("term"),
    )
    # filter to the broadcast-literal vocabulary BEFORE the shuffle
    hits = toks.filter(F.col("term").isin(*vocab))
    tf = hits.groupBy("doc_id", "term").agg(
        F.count("*").alias("tf"), F.first("dl").alias("dl")
    )
    stats = (
        docs.select(F.size(tokens(F.col(text_col))).alias("dl"))
        .agg(
            F.count("*").alias("n_docs"),
            (F.sum("dl") / F.count("*")).alias("avgdl"),
        )
    )
    df_t = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        tf.join(F.broadcast(df_t), "term")
        .join(F.broadcast(stats))
        .join(qdf, "term")
    )
    # arithmetic written in ONE association order, mirrored verbatim in
    # the oracle: idf first, then the tf normalization
    idf = F.log(
        (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl")
    )
    contrib = idf * (F.col("tf") * F.lit(k1 + 1.0)) / denom
    per_doc = (
        scored.withColumn(
            "w6", F.round(contrib * F.lit(1000000.0)).cast("long")
        )
        .groupBy("qid", "doc_id")
        .agg(F.sum("w6").alias("s6"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.col("s6").desc(), F.col("doc_id"))
    return (
        per_doc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "qid",
            "doc_id",
            "rank",
            (F.col("s6") / F.lit(1000000.0)).alias("score"),
        )
    )


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 16,
    max_vocab_words: int = 100_000,
) -> list[tuple[str, str]]:
    """Learn ``num_merges`` byte-pair-encoding merges from a corpus.

    The scale-correct split of classic (word-level) BPE: the CORPUS-scale
    work is one word-frequency aggregation (map-side-combined groupBy +
    a TakeOrderedAndProject cap at ``max_vocab_words``); merge learning
    then runs on the collected word-frequency table — a MODEL-sized
    frame (distinct words, Heaps'-law sublinear in corpus size, capped),
    exactly like kmeans collects its k x d centroids. Each merge is the
    argmax pair count over that table; ties break (count desc, pair
    lexicographic asc) so the learned table is engine-deterministic.

    Words are lowercase [a-z0-9]+ runs (WORD_RE); symbols are characters
    (no end-of-word marker — word-internal merges only, documented
    contract). Returns the ordered merge list for bpe_encode.
    """
    words = (
        df.select(
            F.explode(
                F.expr(f"regexp_extract_all(lower({text_col}), '{WORD_RE}', 0)")
            ).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("w"))
        .limit(max_vocab_words)
    )
    freq = {r.w: r.cnt for r in words.collect()}
    seqs: dict[tuple[str, ...], int] = {}
    for w, c in freq.items():
        seqs[tuple(w)] = seqs.get(tuple(w), 0) + c
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        pairs: dict[tuple[str, str], int] = {}
        for seq, c in seqs.items():
            for i in range(len(seq) - 1):
                pairs[(seq[i], seq[i + 1])] = pairs.get((seq[i], seq[i + 1]), 0) + c
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        merged = best[0] + best[1]
        nxt: dict[tuple[str, ...], int] = {}
        for seq, c in seqs.items():
            out, i = [], 0
            while i < len(seq):
                if i + 1 < len(seq) and (seq[i], seq[i + 1]) == best:
                    out.append(merged)
                    i += 2
                else:
                    out.append(seq[i])
                    i += 1
            t = tuple(out)
            nxt[t] = nxt.get(t, 0) + c
        seqs = nxt
    return merges


def _bpe_word_sym(word: Column, merges: list[tuple[str, str]]) -> Column:
    """The merged symbol string of one word via chained LITERAL replaces.

    Encoding invariant: symbols joined by TWO spaces, single space at
    both ends. Applying merge (a, b) is then the literal replacement
    ' a  b ' -> ' ab ': left-to-right non-overlapping (exactly BPE's
    greedy pass — adjacent occurrences each keep one of the two boundary
    spaces, so runs merge correctly), and pure literal `replace` exists
    with identical semantics in Spark AND DuckDB (no lookaround regex,
    which DuckDB's RE2 lacks) — that is what makes the oracle replay
    exact. Symbols are [a-z0-9]+ only, so literals never need escaping.
    """
    s = F.concat(F.lit(" "), F.rtrim(F.regexp_replace(word, "(.)", "$1  ")), F.lit(" "))
    for a, b in merges:
        s = F.replace(s, F.lit(f" {a}  {b} "), F.lit(f" {a}{b} "))
    return s


def _bpe_word_expr(word: Column, merges: list[tuple[str, str]]) -> Column:
    """array<string> BPE tokens of one word (see _bpe_word_sym)."""
    return F.split(F.trim(_bpe_word_sym(word, merges)), "  ")


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """array<string> of BPE tokens per row under a learned merge table.

    One whole-stage-codegen projection: words via regexp_extract_all,
    each word encoded by _bpe_word_expr's literal replace chain (k =
    len(merges) string replaces per word), flattened. Zero shuffles,
    zero Python UDFs — the 100 TB encode pass costs a corpus scan, and
    the merge table rides the plan as literals (no broadcast join
    needed)."""
    words = F.expr(f"regexp_extract_all(lower({text_col}), '{WORD_RE}', 0)")
    toks = F.flatten(F.transform(words, lambda w: _bpe_word_expr(w, merges)))
    return df.withColumn(out_col, toks)


def bpe_token_stream(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "token",
    id_col: str | None = None,
) -> DataFrame:
    """One-column BPE token STREAM of the corpus — the aggregate-bound
    form (token counting, vocab building), and the fast path next to
    bpe_encode's per-row arrays.

    Why a second form exists (round-9 fix for the r8 bench regression):
    bpe_encode's flatten(transform(words, ...)) puts the 12-replace
    chain inside a higher-order-function lambda, which Catalyst
    evaluates INTERPRETED — and the explode that followed it in
    bpe_token_stats got an optimizer-inferred `size(...) > 0 AND
    isnotnull(...)` pre-filter that re-evaluated the ENTIRE chain twice
    more per row (three interpreted corpus passes in the plan's Filter/
    Project pair). Here the words explode FIRST, so the replace chain is
    a plain per-word-row projection inside whole-stage codegen, and both
    generates are explode_OUTER — semantically identical on this
    pipeline (regexp_extract_all never emits '' and every non-null word
    yields >= 1 token, null words are filtered by a cheap column-ref
    predicate) — which is what keeps InferFiltersFromGenerate from
    duplicating the expression. Measured at sf0.1: 1.73 -> 0.36 s (and the single task became 32).

    The rebalance before the first explode is the same guard as
    bigram_lm / minhash_signatures: fixture-style single-split parquet
    would otherwise pin the whole encode to ONE task; at real scale the
    input's own splits already provide parallelism and the exchange
    moves only the text column. When the caller names a unique
    ``id_col`` (round 14 — this was the family's last round-robin text
    spread, VERDICT r13 #7) the spread hashes on it, which skips the
    keyless repartition's retry-determinism local sort of the text
    rows (guide §2.5 / SPARK-23207) exactly like dedup._doc_shingles;
    without an id the round-robin form stays (hashing on repeated text
    itself would skew)."""
    n = df.sparkSession.sparkContext.defaultParallelism
    if id_col is not None:
        spread = (
            df.select(F.col(id_col), F.col(text_col))
            .repartition(n, id_col)
            .select(F.col(text_col))
        )
    else:
        spread = df.select(F.col(text_col)).repartition(n)
    words = spread.select(
        F.explode_outer(
            F.expr(f"regexp_extract_all(lower({text_col}), '{WORD_RE}', 0)")
        ).alias("__w")
    ).filter(F.col("__w").isNotNull())
    return words.select(
        F.explode_outer(
            F.split(F.trim(_bpe_word_sym(F.col("__w"), merges)), "  ")
        ).alias(out_col)
    )


def char_entropy(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, n_chars, n_distinct_chars, entropy_bits) — per-document
    Shannon entropy over the character distribution, the classic cheap
    gibberish / boilerplate / encoding-junk screen (natural English
    sits ~4.0-4.3 bits; runs of one char or base64 blobs stand out at
    the extremes).

    Exactness: H = log2(n) - (Σ c·log2 c)/n over INTEGER char counts —
    each term is one log2 of an integer, so engines differ only in
    float summation order; rounded to 6 dp. Computed fully JVM-side:
    explode(split) -> two map-side-combined aggregates keyed by doc;
    shuffle volume is |docs| x |alphabet| (counts, never raw chars) —
    at 100 TB that is the same |docs|-bounded exchange class as
    quality_score. Empty documents produce no rows (documented: Spark
    splits '' to [], DuckDB to ['']; the ch <> '' filter aligns both).
    ASCII corpora only in the oracle contract: Spark splits UTF-16 code
    units, DuckDB codepoints — astral-plane chars would count twice on
    the Spark side.
    """
    chars = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), "")).alias("ch")
    ).filter(F.col("ch") != "")
    counts = chars.groupBy(id_col, "ch").agg(F.count("*").alias("c"))
    return (
        counts.groupBy(id_col)
        .agg(
            F.sum("c").cast("long").alias("n_chars"),
            F.count("*").cast("long").alias("n_distinct_chars"),
            F.round(
                F.log2(F.sum("c")) - F.sum(F.col("c") * F.log2("c")) / F.sum("c"), 6
            ).alias("entropy_bits"),
        )
    )
