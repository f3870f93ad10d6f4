"""Corpus-statistics operators for LLM training-data pipelines.

TF-IDF term scoring, vocabulary building, fixed-size token chunking,
and PII redaction — the text-side staples between raw crawl and
tokenizer that the reference (a hospital-reporting ETL) has no
analogue for (north-star extensions; SURVEY.md §2 ext family).

All JVM-side expression/aggregation pipelines — no Python in any hot
path — and every operator here is deterministic, so each has a
DuckDB-oracle-checked query in plans/star_queries.py (q66-q69).

Scale posture (100 TB corpus):
- ``term_frequencies`` / ``vocab_top_terms``: explode-then-aggregate
  with map-side partial aggregation; the shuffle carries (term, count)
  partials, never raw token streams.  Top-k is TakeOrderedAndProject
  (per-partition heaps), not a global sort.
- ``tfidf_top_terms``: document frequencies are vocabulary-sized —
  broadcast to the term-frequency side, so the only big shuffle is
  the tf aggregation itself.  Skewed head terms (stopwords) are
  bounded by the per-(doc, term) pre-aggregation.
- ``token_chunks``: pure per-row array expression, linear, no shuffle.
- ``redact_pii``: per-row regexp_replace chain, linear, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

TOKENIZE = r"split(trim({col}), '\\s+')"

# RE2-compatible (works in both Spark and DuckDB — no lookbehind):
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?[0-9]{1,3}[-. (]{0,2}[0-9]{3}[-. )]{0,2}[0-9]{3}[-. ]?[0-9]{4}"
SSN_RE = r"[0-9]{3}-[0-9]{2}-[0-9]{4}"


def _tok(text_col: str) -> str:
    return TOKENIZE.format(col=text_col)


def term_frequencies(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, term, tf): whitespace-token counts per document."""
    return (
        df.select(F.col(id_col), F.explode(F.expr(_tok(text_col))).alias("term"))
        .filter(F.col("term") != "")
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    round_digits: int = 6,
) -> DataFrame:
    """Top-``k`` terms per document by smoothed tf-idf.

    idf = ln((N + 1) / (df + 1)) + 1 (sklearn-style smoothing: never
    zero, never divides by zero).  Ties break by term ascending so the
    result is fully deterministic and oracle-hashable.
    """
    # tf feeds BOTH the scoring join and the document-frequency agg;
    # persist the (doc, term, tf) partial so the token explode+shuffle
    # runs once, not twice (it is the only corpus-sized stage here).
    # The lazy result still reads it, so the caller's
    # session.query_scope releases it, not this function.
    tf = term_frequencies(df, text_col, id_col).persist()
    n_docs = df.select(F.count(F.lit(1)).alias("__n"))
    doc_freq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = doc_freq.crossJoin(F.broadcast(n_docs)).select(
        "term",
        (F.log((F.col("__n") + 1) / (F.col("df") + 1)) + 1).alias("idf"),
    )
    scored = tf.join(F.broadcast(idf), on="term").select(
        id_col, "term", F.round(F.col("tf") * F.col("idf"), round_digits).alias("tfidf")
    )
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .select(id_col, "term", "tfidf", F.col("__rk").cast("long").alias("rank"))
    )


def vocab_top_terms(df: DataFrame, text_col: str = "text", k: int = 50) -> DataFrame:
    """Global vocabulary head: top-``k`` terms by corpus count
    (count desc, term asc — deterministic)."""
    return (
        df.select(F.explode(F.expr(_tok(text_col))).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("term").asc())
        .limit(k)
    )


def token_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Fixed-size token windows with overlap — the chunking step that
    feeds context-window-bounded training/embedding.

    Chunk ``i`` covers tokens ``[1 + i*stride, 1 + i*stride +
    chunk_tokens)``; the final chunk may be short.  One array
    expression per row: starts via stepped ``sequence``, chunks via
    ``slice`` + ``concat_ws`` — linear, no shuffle, no UDF.
    """
    tok = _tok(text_col)
    starts = f"if(size({tok}) = 0, array(), sequence(1, size({tok}), {stride}))"
    chunks = (
        f"transform({starts}, s -> struct("
        f"CAST((s - 1) div {stride} AS BIGINT) AS chunk_idx, "
        f"concat_ws(' ', slice({tok}, s, {chunk_tokens})) AS chunk_text, "
        f"size(slice({tok}, s, {chunk_tokens})) AS n_tokens))"
    )
    return (
        df.select(F.col(id_col), F.explode(F.expr(chunks)).alias("c"))
        .select(id_col, "c.chunk_idx", "c.chunk_text", F.col("c.n_tokens").cast("long").alias("n_tokens"))
    )


def repetition_features(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Within-document repetition metrics (Gopher-style quality rules):

    - ``ttr``: type-token ratio (distinct / total tokens) — low means
      the doc repeats itself;
    - ``top_bigram_frac``: share of all bigram occurrences taken by
      the single most frequent bigram (NULL when < 2 tokens) — high
      means looping/boilerplate text.

    The ttr is a pure projection; the bigram mode needs one shuffle on
    (doc, bigram) — same partial-agg shape as term_frequencies.
    """
    tok = _tok(text_col)
    bigrams = (
        f"if(size({tok}) < 2, array(), "
        f"transform(sequence(1, size({tok}) - 1), i -> concat_ws(' ', slice({tok}, i, 2))))"
    )
    ttr_side = df.select(
        F.col(id_col),
        F.round(
            F.expr(f"try_divide(CAST(size(array_distinct({tok})) AS DOUBLE), CAST(size({tok}) AS DOUBLE))"),
            6,
        ).alias("ttr"),
    )
    big_stats = (
        df.select(F.col(id_col), F.explode(F.expr(bigrams)).alias("bg"))
        .groupBy(id_col, "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(
            F.round(F.try_divide(F.max("c").cast("double"), F.sum("c").cast("double")), 6).alias(
                "top_bigram_frac"
            )
        )
    )
    return ttr_side.join(big_stats, on=id_col, how="left")


def shared_gram_counts(
    df: DataFrame,
    benchmark_filter,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram_n: int = 8,
) -> DataFrame:
    """Benchmark decontamination: per candidate document, how many
    DISTINCT ``gram_n``-token grams it shares with the benchmark set
    (rows only for contaminated docs).

    Grams travel as md5 digests — 16-byte shuffle keys instead of raw
    n-gram text, and portable (the DuckDB oracle computes identical
    digests).  Shape: explode both sides' distinct gram sets, equi-join
    on the digest, count distinct per candidate — the shuffle carries
    (digest, doc_id), never document bodies, and the benchmark side of
    the join is benchmark-corpus-sized (broadcastable when the
    benchmark is the usual few-GB eval suite).
    """
    # Materialize the token array once per row — inlining the split
    # into the gram lambda re-evaluates it per reference (size, slice)
    # because higher-order lambdas are interpreted, not codegen'd.
    grams = (
        f"if(size(__tok) < {gram_n}, array(), array_distinct("
        f"transform(sequence(1, size(__tok) - {gram_n - 1}), "
        f"i -> md5(concat_ws(' ', slice(__tok, i, {gram_n}))))))"
    )
    toked = df.withColumn("__tok", F.expr(_tok(text_col)))
    bench = (
        toked.filter(benchmark_filter)
        .select(F.explode(F.expr(grams)).alias("g"))
        .distinct()
    )
    cand = toked.filter(~benchmark_filter).select(
        F.col(id_col), F.explode(F.expr(grams)).alias("g")
    )
    return (
        cand.join(F.broadcast(bench), on="g")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))  # cand grams are distinct per doc
    )


def unigram_logprob_score(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Mean unigram log-probability per document under the corpus's own
    token distribution — a perplexity-proxy quality score (documents
    full of globally-rare tokens score low, like an LM filter's tail).

    Two passes over the exploded tokens: (1) vocabulary counts +
    grand total, (2) per-doc token → broadcast-joined vocab →
    avg(ln(n / total)).  The exploded-token shuffle is the only
    corpus-sized stage and is persisted across the two passes; the
    vocab side is vocabulary-sized (broadcastable).

    The persisted tokens are released by the caller's
    ``session.query_scope`` (see ``tfidf_top_terms``).
    """
    toks = (
        df.select(F.col(id_col), F.explode(F.expr(_tok(text_col))).alias("term"))
        .filter(F.col("term") != "")
        .persist()
    )
    vocab = toks.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    total = vocab.agg(F.sum("n").alias("t"))
    scored = (
        toks.join(F.broadcast(vocab), on="term")
        .crossJoin(F.broadcast(total))
        .select(id_col, F.log(F.col("n").cast("double") / F.col("t").cast("double")).alias("__lp"))
    )
    return scored.groupBy(id_col).agg(
        F.round(F.avg("__lp"), 6).alias("avg_logprob"),
        F.count(F.lit(1)).alias("n_tokens"),
    )


def redact_pii(
    df: DataFrame, text_col: str = "text", out_col: str = "redacted", count_col: str = "n_redactions"
) -> DataFrame:
    """Mask email / phone / SSN-shaped spans with typed placeholders
    and count the replacements.

    Patterns are RE2-compatible so the DuckDB oracle runs the SAME
    regexes (DuckDB is RE2; no lookbehind anywhere).  The testdata
    corpus contains no PII — the oracle parity run proves the regex
    semantics match engine-to-engine; positive behavior is pinned on
    planted PII in tests/test_operators.py.
    """
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col(text_col), SSN_RE, "<SSN>"),
            EMAIL_RE,
            "<EMAIL>",
        ),
        PHONE_RE,
        "<PHONE>",
    )
    df = df.withColumn(out_col, redacted)
    # count placeholders in the FINAL text — replacement order (SSN →
    # email → phone) means earlier redactions can't be re-counted by a
    # later overlapping pattern, and the count always equals the number
    # of substitutions actually made.
    n = F.size(F.expr(f"regexp_extract_all({out_col}, '<SSN>|<EMAIL>|<PHONE>', 0)"))
    return df.withColumn(count_col, n.cast("long"))


def gram_docfreq_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram_n: int = 8,
    boilerplate_df: int = 3,
) -> DataFrame:
    """Cross-document n-gram document frequency: per document, the
    highest number of DISTINCT documents any of its ``gram_n``-token
    grams appears in — the C4/RefinedWeb-style boilerplate signal
    (templated text shows up as grams with corpus-wide doc frequency).

    Same md5-digest gram keys as ``shared_gram_counts`` (16-byte
    shuffle keys, oracle-portable), but the join is corpus-to-itself
    THROUGH the aggregated gram relation: explode distinct grams per
    doc, partial-agg to (gram, doc_freq) — vocabulary-sized, the only
    corpus-scale shuffle — then one shuffle join back to the exploded
    side and a per-doc max.  Never doc-to-doc pairwise.
    """
    grams = (
        f"if(size(__tok) < {gram_n}, array(), array_distinct("
        f"transform(sequence(1, size(__tok) - {gram_n - 1}), "
        f"i -> md5(concat_ws(' ', slice(__tok, i, {gram_n}))))))"
    )
    # Persisted so the corpus-sized explode feeds both the docfreq agg
    # and the join side without a second scan; cache lifetime is
    # caller-managed (see ``tfidf_top_terms``).
    per_doc = (
        df.withColumn("__tok", F.expr(_tok(text_col)))
        .select(F.col(id_col), F.explode(F.expr(grams)).alias("g"))
        .persist()
    )
    docfreq = per_doc.groupBy("g").agg(F.count(F.lit(1)).alias("df"))  # grams distinct per doc
    return (
        per_doc.join(docfreq, on="g")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.max("df").alias("max_gram_docfreq"),
        )
        .withColumn(
            "is_boilerplate",
            (F.col("max_gram_docfreq") >= F.lit(boilerplate_df)).cast("int"),
        )
    )


def source_mix_rebalance(
    df: DataFrame, id_col: str = "doc_id", source_col: str = "source"
) -> DataFrame:
    """Deterministic source-mix rebalancing: downsample every source to
    the size of the SMALLEST source via a PORTABLE hash threshold.

    The sampling predicate is ``substr(md5(id), 1, 6) <
    hex(floor(keep_frac * 16^6))`` — md5 hex is identical across
    engines (same trick as the q63/q71 portability pins), so the kept
    set is reproducible anywhere, stable under task retries (no
    ``rand()``), and SQL-oracle-comparable.  One |sources|-row
    aggregate broadcast back over the corpus + a narrow filter; the
    same shape implements any target mix vector (replace ``min(n)``
    with the target weight).
    """
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("n"))
    min_n = counts.agg(F.min("n").alias("m"))
    weights = counts.crossJoin(F.broadcast(min_n)).select(
        source_col,
        F.least(F.lit(1.0), F.round(F.col("m") / F.col("n"), 6)).alias("keep_frac"),
    )
    return _keep_by_hash_threshold(df, weights, id_col, source_col)


def temperature_source_mix(
    df: DataFrame,
    alpha: float = 0.3,
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Temperature-scaled source mixing: downsample so source shares
    follow ``p_s ∝ n_s^alpha`` — the multilingual/multi-corpus
    sampling rule of T5/mT5 ("exponentially smoothed" mixing; Raffel
    et al. 2020 §2.3, Xue et al. 2021 §3.2), expressed as a
    deterministic filter.

    ``alpha = 1`` keeps the natural mix (every keep_frac 1.0);
    ``alpha = 0`` equalizes all sources (= :func:`source_mix_rebalance`);
    between, head sources are damped and tail sources kept whole.
    Downsample-only: the scale constant ``C = min_t n_t^(1-alpha)``
    makes the largest implied keep_frac exactly 1, so no source needs
    upsampling, and ``keep_frac_s = round(C * n_s^(alpha-1), 6)``.

    Same portable-hash keep predicate (and the same scale posture) as
    :func:`source_mix_rebalance`: one |sources| aggregate broadcast
    back, narrow filter, no rand(), SQL-oracle-comparable.  pow() is
    IEEE-double on both engines and keep_frac is rounded to 6 digits
    before thresholding, so cross-engine ulps cannot flip a keep bit
    unless a value lands exactly on a rounding boundary.
    """
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("n"))
    c_min = counts.agg(
        F.min(F.pow(F.col("n").cast("double"), F.lit(1.0 - alpha))).alias("c")
    )
    weights = counts.crossJoin(F.broadcast(c_min)).select(
        source_col,
        F.least(
            F.lit(1.0),
            F.round(
                F.col("c") * F.pow(F.col("n").cast("double"), F.lit(alpha - 1.0)), 6
            ),
        ).alias("keep_frac"),
    )
    return _keep_by_hash_threshold(df, weights, id_col, source_col)


def _keep_by_hash_threshold(
    df: DataFrame, weights: DataFrame, id_col: str, source_col: str
) -> DataFrame:
    """Shared keep-predicate of the mix operators: broadcast the
    per-source ``keep_frac`` table and keep rows whose first 6 md5 hex
    digits fall under ``floor(keep_frac * 16^6)`` — portable,
    deterministic, retry-stable."""
    thresh = F.lpad(
        F.lower(F.hex(F.floor(F.col("keep_frac") * (16 ** 6)).cast("bigint"))), 6, "0"
    )
    keep = (F.col("keep_frac") >= 1.0) | (
        F.expr(f"substr(md5(cast({id_col} AS string)), 1, 6)") < thresh
    )
    return (
        df.join(F.broadcast(weights), on=source_col)
        .filter(keep)
        .select(id_col, source_col, "keep_frac")
        .orderBy(id_col)
    )


def epoch_shard_plan(
    df: DataFrame,
    epoch: int = 0,
    hex_chars: int = 2,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic epoch-shuffle shard plan: assign every document a
    shard and an in-shard position for one training epoch, with no
    rand() and no global sort.

    A 100 TB corpus cannot be globally shuffled per epoch; the
    standard trick (T5 / Megatron data loaders) is a seeded hash
    order: ``key = md5(epoch || id)`` gives each epoch an independent
    pseudorandom permutation, the first ``hex_chars`` hex digits pick
    one of ``16^hex_chars`` shards, and documents are laid out within
    a shard in key order.  Re-runs, retried tasks, and resumed jobs
    all agree on the layout (md5 is engine-portable, so the full plan
    is oracle-verified value-for-value, like q94's kept set).

    Scale shape: one narrow projection computes keys; the only
    shuffle is the per-shard row_number window, whose partition size
    is ``|corpus| / 16^hex_chars`` — hex_chars is the scale knob
    (2 → 256 shards for tests; 4 → 65 536 shards keeps shards in the
    1–2 GB range at 100 TB so no window partition outgrows a task).
    A production writer would follow with
    ``repartitionByRange(shard).sortWithinPartitions(skey)`` and a
    per-shard file sink; the plan itself is the contract.
    """
    hexmap = "0123456789abcdef"
    skey = F.md5(F.concat(F.lit(f"epoch{epoch}:"), F.col(id_col).cast("string")))
    shard_expr = F.lit(0)
    for i in range(1, hex_chars + 1):
        shard_expr = shard_expr * 16 + (
            F.instr(F.lit(hexmap), F.substring(F.col("skey"), i, 1)) - 1
        )
    keyed = df.select(F.col(id_col), skey.alias("skey"))
    w = Window.partitionBy(F.substring("skey", 1, hex_chars)).orderBy("skey", id_col)
    return (
        keyed.select(
            id_col,
            shard_expr.cast("int").alias("shard"),
            F.row_number().over(w).cast("bigint").alias("ord"),
        )
        .orderBy("shard", "ord")
    )


def deterministic_split(
    df: DataFrame,
    fracs: tuple[float, float] = (0.90, 0.05),
    salt: str = "split0",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic train/val/test assignment via the portable md5
    threshold idiom (q94): ``md5(salt || id)``'s first 6 hex digits
    against fixed hex cut points give every document a stable split
    that survives re-runs, retried tasks, corpus growth (a doc's
    split never changes when other docs are added), and engine moves.

    ``fracs = (train, val)`` — test takes the remainder.  Cut points
    are computed once in Python and inlined as hex literals, so the
    filter is a narrow projection: no shuffle, no rand() (which
    breaks on task retry), no sampleBy (which is seeded but not
    stable under repartitioning).  Uniformity of md5 makes each
    source's own mix converge to the same fractions, so the split is
    stratified in expectation without a per-source pass.
    """
    t_train = format(int(fracs[0] * 16**6), "06x")
    t_val = format(int((fracs[0] + fracs[1]) * 16**6), "06x")
    h = F.substring(F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string"))), 1, 6)
    return df.withColumn(
        "split",
        F.when(h < t_train, "train").when(h < t_val, "val").otherwise("test"),
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[tuple[int, str]],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt_buckets: int = 64,
) -> DataFrame:
    """BM25 document ranking (Robertson & Zaragoza 2009, the Okapi
    probabilistic relevance function): top-``k`` documents per query,
    the retrieval step of RAG / data-curation-by-search pipelines.

    ``query_terms`` is a small ``[(qid, term), ...]`` list — it is
    broadcast, so term matching never shuffles the corpus-sized token
    stream.  idf uses the standard +1-smoothed form
    ``ln(1 + (N - df + 0.5)/(df + 0.5))`` (always positive).

    Oracle-exactness: each (doc, term) contribution is scaled to a
    BIGINT (``round(x * 1e6)``) before summing, so the per-doc score
    is an EXACT integer sum — immune to float accumulation order —
    and ranking ties break on doc_id.

    Scale posture (100 TB): the per-query top-k is computed in TWO
    window passes — a local pass partitioned by (qid, pmod(hash(doc),
    ``salt_buckets``)) that keeps k rows per salt bucket, then a final
    pass over the surviving ``salt_buckets * k`` rows per qid.  A
    single ``partitionBy(qid)`` window would serialize every matching
    document of a query (potentially the whole corpus) through one
    task; the salted pass bounds any task's input to ~|matches| /
    salt_buckets rows and the final pass is constant-sized.
    """
    spark = df.sparkSession
    q = spark.createDataFrame(query_terms, "qid INT, term STRING")
    # tf feeds scoring AND document frequencies: persist the one
    # corpus-sized explode (cache lifetime caller-managed, as in
    # tfidf_top_terms).
    tf = term_frequencies(df, text_col, id_col).persist()
    # Document length as a narrow projection (same tokenizer, empties
    # dropped) — avoids re-aggregating tf per doc.
    dl = df.select(
        F.col(id_col),
        F.size(F.filter(F.expr(_tok(text_col)), lambda x: x != "")).cast("bigint").alias("dl"),
    )
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    dfreq = (
        tf.join(F.broadcast(q.select("term").distinct()), on="term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df_t"))
    )
    idf = dfreq.crossJoin(F.broadcast(stats)).select(
        "term",
        F.log(1 + (F.col("n_docs") - F.col("df_t") + 0.5) / (F.col("df_t") + 0.5)).alias("idf"),
        "avgdl",
    )
    contrib = (
        tf.join(F.broadcast(q), on="term")
        .join(dl, on=id_col)
        .join(F.broadcast(idf), on="term")
        .select(
            "qid",
            F.col(id_col),
            F.round(
                F.col("idf")
                * (F.col("tf") * (k1 + 1))
                / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
                * 1e6
            )
            .cast("bigint")
            .alias("c"),
        )
    )
    scored = contrib.groupBy("qid", id_col).agg(F.sum("c").alias("s"))
    # Two-phase top-k (see docstring): local per-salt-bucket heads,
    # then the true head among salt_buckets * k survivors.
    salted = scored.withColumn("__salt", F.pmod(F.hash(F.col(id_col)), F.lit(salt_buckets)))
    w_local = Window.partitionBy("qid", "__salt").orderBy(F.col("s").desc(), F.col(id_col).asc())
    w_final = Window.partitionBy("qid").orderBy(F.col("s").desc(), F.col(id_col).asc())
    return (
        salted.withColumn("__rk", F.row_number().over(w_local))
        .filter(F.col("__rk") <= k)
        .withColumn("rank", F.row_number().over(w_final).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(
            "qid",
            id_col,
            (F.col("s") / F.lit(1000000.0)).alias("score"),
            "rank",
        )
    )


def percentile_buckets(
    df: DataFrame,
    value_col: str,
    n_buckets: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """Assign every row to a quantile bucket (1..``n_buckets``) of
    ``value_col`` — curriculum-ordering / length-grouped-batching
    buckets without ``ntile``'s scale hazard.

    ``ntile(n) OVER (ORDER BY v)`` funnels the ENTIRE table through
    one unpartitioned window task.  Instead: one small aggregate
    computes the n-1 interpolated boundaries (exact ``percentile``
    here; swap to ``percentile_approx`` — t-digest, mergeable, single
    pass — at 100 TB, same shape as q32's note), broadcast back, and
    the assignment is a narrow comparison chain — no shuffle of the
    big side at all.  Boundaries are rounded to 4 digits on both
    engines so the bucket edges are oracle-portable.  Delta vs ntile:
    equal values always land in the SAME bucket (ntile splits ties by
    position), which is what curriculum grouping wants.
    """
    ps = [i / n_buckets for i in range(1, n_buckets)]
    bounds = df.agg(
        *[
            F.round(F.expr(f"percentile({value_col}, {p})"), 4).alias(f"b{i}")
            for i, p in enumerate(ps, start=1)
        ]
    )
    gt = sum(
        (F.col(value_col) > F.col(f"b{i}")).cast("int") for i in range(1, len(ps) + 1)
    )
    return (
        df.crossJoin(F.broadcast(bounds))
        .select(
            F.col(id_col),
            F.col(value_col),
            (F.lit(1) + gt).cast("bigint").alias("bucket"),
        )
    )


def bpe_learn(
    docs: DataFrame,
    text_col: str = "text",
    iters: int = 10,
) -> tuple[DataFrame, DataFrame]:
    """Distributed BPE merge training (Sennrich, Haddow & Birch, ACL
    2016): learn ``iters`` merge rules from the corpus word-frequency
    table, entirely in DataFrame ops.

    Returns ``(merges, words)``: ``merges`` is the learned rule table
    ``(step, a, b, merged, n)``; ``words`` is the word-frequency table
    with the FINAL segmentation ``s`` (sentinel-space-delimited token
    string), ready for encoding via a join (see q137).

    Scale shape: the training input is the DISTINCT-word table (the
    classic BPE trick — millions of rows at corpus scale, never the
    token stream), each iteration is one weighted bigram aggregate +
    a 1-row top-1 reduce broadcast back into a narrow ``replace``.
    Both the 1-row top and the updated word table are eagerly
    localCheckpoint-ed per iteration (the q132 lesson: unrolled
    iterative plans must truncate lineage or AQE re-plans the tower).

    Exactness notes: top-pair ties break on (n DESC, a, b) — total
    order; the merge itself is a plain ``replace`` of the sentinel-
    delimited pair ``' a b ' -> ' ab '``, whose left-to-right
    non-overlapping scan is identical in Spark and DuckDB (on an
    immediate repeat like ``a a a a`` it merges with a one-token gap,
    a documented, engine-agreeing deviation from reference BPE's
    symbol-list scan — RE2 has no lookahead, so the oracle cannot
    express the reference behavior).

    If the corpus exhausts mergeable pairs before ``iters`` steps,
    the loop stops early and returns the merges learned so far (the
    q136 oracle replays a corpus with >= iters live pairs, so the
    early stop never fires there; a degenerate all-single-char corpus
    yields an empty rule table, pinned in tests).
    """
    from team_aragon_spark.operators import text as text_ops

    words = (
        docs.filter(F.length(F.trim(text_col)) > 0)
        .select(F.explode(text_ops.tokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wn"))
    )
    cur = words.select(
        "word",
        "wn",
        F.concat(F.lit(" "), F.regexp_replace("word", "(.)", "$1 ")).alias("s"),
    ).localCheckpoint(eager=True)

    merge_rows = []
    for step in range(1, iters + 1):
        toks = F.expr("split(trim(s), ' ')")
        pairs = (
            cur.select(
                "wn",
                F.explode(
                    F.expr(
                        "zip_with(slice(split(trim(s), ' '), 1, size(split(trim(s), ' '))-1),"
                        " slice(split(trim(s), ' '), 2, size(split(trim(s), ' '))-1),"
                        " (x, y) -> struct(x AS a, y AS b))"
                    )
                ).alias("bg"),
            )
            .select("wn", "bg.a", "bg.b")
            .groupBy("a", "b")
            .agg(F.sum("wn").alias("n"))
        )
        top = (
            pairs.orderBy(F.desc("n"), "a", "b")
            .limit(1)
            .localCheckpoint(eager=True)
        )
        # Early stop when the corpus exhausts mergeable pairs (every
        # word fully merged): an empty top-1 would otherwise turn the
        # crossJoin below into an empty relation and silently wipe the
        # word table for all remaining iterations.  count() is free —
        # `top` is an eagerly-materialized 0/1-row checkpoint.
        if top.count() == 0:
            break
        merge_rows.append(
            top.select(
                F.lit(step).alias("step"),
                "a",
                "b",
                F.concat("a", "b").alias("merged"),
                F.col("n").cast("bigint").alias("n"),
            )
        )
        cur = (
            cur.crossJoin(F.broadcast(top))
            .select(
                "word",
                "wn",
                F.expr(
                    "replace(s, ' ' || a || ' ' || b || ' ', ' ' || a || b || ' ')"
                ).alias("s"),
            )
            .localCheckpoint(eager=True)
        )
    if not merge_rows:
        # Degenerate corpus (all words single-char): no rules learned.
        empty = docs.sparkSession.createDataFrame(
            [], "step int, a string, b string, merged string, n bigint"
        )
        return empty, cur
    merges = merge_rows[0]
    for m in merge_rows[1:]:
        merges = merges.unionByName(m)
    return merges.orderBy("step"), cur


def misra_gries_candidates(df: DataFrame, col: str, k: int) -> DataFrame:
    """Per-partition Misra-Gries heavy-hitter candidates (capacity ``k``).

    Streams each partition ONCE through at most ``k`` decrement
    counters (Misra & Gries 1982): a new item either takes a free
    counter or decrements all of them, so any item whose count within
    the partition exceeds ``n_p / (k + 1)`` is guaranteed to survive.
    By pigeonhole, an item with GLOBAL frequency > n / (k + 1) must
    exceed that bound in at least one partition, so the UNION of
    per-partition summaries is a superset of every true heavy hitter —
    regardless of how rows are split across partitions.

    The returned DataFrame holds the distinct candidate values
    (<= k per input partition).  A second exact counting pass over
    rows semi-joined to the (broadcast) candidates makes the final
    heavy-hitter set exact AND partition-layout-independent, without
    ever shuffling the full-cardinality (value, count) space.

    Scale: pass 1 is shuffle-free (mapInPandas, O(k) state per
    executor thread); only |partitions| * k candidate rows move.
    """
    import pandas as pd

    def mg(batches):
        counters: dict = {}
        for pdf in batches:
            for v in pdf[col].to_numpy().tolist():
                if v in counters:
                    counters[v] += 1
                elif len(counters) < k:
                    counters[v] = 1
                else:
                    dead = [key for key, c in counters.items() if c == 1]
                    for key in counters:
                        counters[key] -= 1
                    for key in dead:
                        del counters[key]
        yield pd.DataFrame({col: pd.Series(list(counters), dtype="object")})

    return df.select(col).mapInPandas(mg, f"{col} string").distinct()
