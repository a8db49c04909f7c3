"""Text analysis operators over the ``documents`` table.

LLM-training-data pipeline primitives (BASELINE.json north star), all
expressed as built-in Catalyst expressions — tokenization via ``split``,
per-token analysis via ``explode`` + re-aggregate — so the whole module is
whole-stage-codegen'd and shuffle-light (the only shuffle is the re-group by
doc_id after explode, and even that disappears where we can aggregate
arrays in place with ``F.size``/``F.filter``).

Scale notes: explode of tokens multiplies row count by ~avg_tokens; at
100 TB prefer the array-function forms (``F.size(F.filter(...))``) that
never explode — both forms are provided and tested equal.  Everything here
is embarrassingly parallel per document: no skew risk, no driver collect.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from stockpulse_batch_realtime_etl_spark.sources.tables import (
    fan_out,
    literal_df,
)

#: Function-word list used for quality scoring and language-ID.  English
#: row is what the synthetic corpus exercises; other rows keep the operator
#: honest (real corpora hit them).
LANG_KEYWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "in", "is", "it"),
    "es": ("el", "la", "de", "que", "y", "los"),
    "de": ("der", "die", "und", "das", "ist", "nicht"),
    "fr": ("le", "la", "et", "les", "des", "est"),
    "it": ("il", "di", "che", "la", "per", "non"),
}

STOPWORDS = LANG_KEYWORDS["en"]


def _tokens(text_col: str = "text") -> Column:
    """Whitespace tokenization of trimmed text.

    CONVENTION: an empty/whitespace-only document yields ``[""]`` (one
    empty token), because Spark's ``split('')`` and DuckDB's
    ``string_split_regex('')`` both return a single-empty-string list —
    the two engines agree, which is what the hash gate needs.  Paths that
    must not count the empty token filter it explicitly (every explode
    consumer does); the corpus generator guarantees non-empty text, so
    the aggregate stats paths (``text_stats``/``quality_score``) share
    the convention instead of special-casing it."""
    return F.split(F.trim(F.col(text_col)), "\\s+")


def text_stats(docs: DataFrame) -> DataFrame:
    """Per-document statistics: lengths, token counts, character-class and
    stopword ratios — the standard quality-filter feature set.

    Array-native form: stopword ratio via ``F.size(F.filter(tokens, ...))``
    — no explode, no shuffle, one projection over the scan.

    ``avg_token_len`` is the closed form ``(len(text) − n_tok + 1)/n_tok``
    — exact for single-space-separated text (the corpus convention),
    overstated by the extra bytes on text with runs of whitespace; kept
    because the oracle replays the identical arithmetic and the exact
    form would need a second normalization pass.

    The token array is materialized in its OWN projection first: four of the
    stat columns consume it, and CollapseProject deliberately refuses to
    merge the two projects (a non-cheap expression referenced >1× is never
    duplicated), so the regex split runs once per row instead of four times.
    """
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    toks = F.col("_toks")
    n_tok = F.size(toks)
    return fan_out(docs).select("*", _tokens().alias("_toks")).select(
        "doc_id",
        "lang",
        "source",
        F.length("text").alias("char_len"),
        n_tok.alias("token_count"),
        F.size(F.array_distinct(toks)).alias("distinct_tokens"),
        F.round(
            F.length(F.regexp_replace("text", "[^a-zA-Z]", ""))
            / F.nullif(F.length("text"), F.lit(0)),
            4,
        ).alias("alpha_ratio"),
        F.round(
            F.length(F.regexp_replace("text", "[^0-9]", ""))
            / F.nullif(F.length("text"), F.lit(0)),
            4,
        ).alias("digit_ratio"),
        F.round(
            # lower() before the membership test: the stop list is
            # lowercase and sentence-initial "The"/"In" must count (the
            # language_id keyword vote already lowercases the same list)
            F.size(
                F.filter(
                    toks, lambda t: F.array_contains(stop_arr, F.lower(t))
                )
            )
            / F.nullif(n_tok, F.lit(0)).cast("double"),
            4,
        ).alias("stopword_ratio"),
        F.round(
            (F.length("text") - n_tok + 1) / F.nullif(n_tok, F.lit(0)).cast("double"),
            4,
        ).alias("avg_token_len"),
    )


def quality_score(docs: DataFrame, keep_stats: bool = False) -> DataFrame:
    """Composite quality score in [0,1] from text_stats features — a
    Gopher/C4-style heuristic filter: long enough, mostly alphabetic, some
    stopwords, lexically diverse.  Pure arithmetic over the stats projection
    (one pass; the weights are the operator's contract, asserted in tests).

    ``keep_stats=True`` carries the token_count feature through, so a
    downstream consumer (the percentile filter) gets score + features in
    the same single pass instead of re-deriving them via a self-join.
    """
    s = text_stats(docs)
    clamp = lambda c: F.least(F.greatest(c, F.lit(0.0)), F.lit(1.0))  # noqa: E731
    score = (
        0.25 * clamp(F.col("token_count") / 50.0)
        + 0.25 * clamp(F.col("alpha_ratio") / 0.8)
        + 0.25 * clamp(F.col("stopword_ratio") / 0.1)
        + 0.25 * clamp(F.col("distinct_tokens") / F.nullif(F.col("token_count"), F.lit(0)) / 0.5)
    )
    # 6dp, not the serving layer's 4dp: the 0.25-weighted components land on
    # a 5-decimal grid, so 4dp rounding hits exact .xxxx5 halves where
    # binary-float engines legitimately disagree; 6dp can't.
    extra = ["token_count"] if keep_stats else []
    return s.select(
        "doc_id", "lang", "source", *extra, F.round(score, 6).alias("quality")
    )


def token_counts(docs: DataFrame) -> DataFrame:
    """Corpus token frequency: explode + count — the canonical shuffle-bearing
    text op.  Partial aggregation (map-side combine) means the shuffle carries
    one row per (partition, distinct token), not per token occurrence; with a
    ~100k-word vocabulary that is negligible at any corpus size."""
    return (
        fan_out(docs)
        .select(F.explode(_tokens()).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("token").asc())
    )


#: BPE-style pre-tokenization pattern (the GPT-2 shape, simplified to the
#: regex intersection of Java (Spark) and RE2 (DuckDB, no lookaheads):
#: letter runs, digit runs, punctuation runs — each with optional leading
#: space kept, BPE-style.
BPE_PATTERN = r" ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s]+"


def bpe_token_counts(docs: DataFrame) -> DataFrame:
    """Corpus frequency under BPE-ish regex pre-tokenization — the token
    accounting an LLM-data pipeline actually runs (whitespace counting is
    ``token_counts``).  ``regexp_extract_all`` keeps tokenization JVM-side;
    explode + count with map-side combine as usual."""
    return (
        fan_out(docs)
        .select(
            F.explode(
                # the FUNCTION form, not F.expr with an embedded SQL
                # literal: the SQL parser unescapes '\s' to 's' inside a
                # single-quoted literal, silently turning the punctuation
                # class into one that matches whitespace and diverging
                # from the DuckDB oracle on any multi-space text
                F.regexp_extract_all(
                    F.col("text"), F.lit(BPE_PATTERN), F.lit(0)
                )
            ).alias("token")
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("token").asc())
    )


def lang_vocab(docs: DataFrame) -> DataFrame:
    """Per-language corpus vocabulary: doc count, token occurrences, and
    DISTINCT token count — the distinct-aggregate operator class (absent
    from the reference, SURVEY.md §2.3).

    ``count(DISTINCT token)`` plans as a two-level aggregate (Expand →
    partial → final); at extreme cardinalities swap in
    ``approx_count_distinct`` (HLL) — same query shape, bounded state —
    which is asserted against the exact count in tests (not oracle-checked:
    HLL sketches are engine-specific).
    """
    toks = fan_out(docs).select(
        "lang", "doc_id", F.explode(_tokens()).alias("token")
    ).filter(F.col("token") != "")
    return (
        toks.groupBy("lang")
        .agg(
            F.countDistinct("doc_id").alias("doc_count"),
            F.count(F.lit(1)).alias("token_count"),
            F.countDistinct("token").alias("vocab_size"),
        )
        .orderBy("lang")
    )


def source_token_stats(docs: DataFrame) -> DataFrame:
    """Per-source token economics — the inputs a mixture planner actually
    weights by (token budgets, not doc counts): docs, token occurrences,
    vocabulary size, type-token ratio, and the most frequent token with
    its share (a skew/boilerplate tell per source).

    Plan: one explode → (source, token) counts (map-side combined), then
    a per-source aggregate; the top token comes from ``max_by`` over the
    count table — no window, no second text scan.  Distinct-heavy at
    extreme scale → the ``lang_vocab`` HLL note applies unchanged.
    """
    tok_counts = (
        fan_out(docs)
        .select("source", F.explode(_tokens()).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    docs_per_source = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("doc_count")
    )
    # deterministic top token: max count, ties toward the lexicographically
    # LARGEST token — encoded as one fixed-width string key (zero-padded
    # count ‖ token) so Spark's max_by and DuckDB's arg_max order
    # identically with no struct-comparison semantics in play
    # width 20 covers any BIGINT count (the winnowing block derives widths
    # for exactly this lpad-truncation hazard; 12 silently truncated
    # counts >= 10^12 and corrupted the argmax at the design scale)
    key = F.concat(F.lpad(F.col("c").cast("string"), 20, "0"), F.col("token"))
    per_source = tok_counts.groupBy("source").agg(
        F.sum("c").alias("token_count"),
        F.count(F.lit(1)).alias("vocab_size"),
        F.max_by("token", key).alias("top_token"),
        F.max_by("c", key).alias("top_c"),
    )
    return (
        per_source.join(F.broadcast(docs_per_source), "source")
        .select(
            "source",
            "doc_count",
            F.col("token_count").cast("long").alias("token_count"),
            "vocab_size",
            F.round(
                F.col("vocab_size") / F.col("token_count").cast("double"), 6
            ).alias("type_token_ratio"),
            "top_token",
            F.round(
                F.col("top_c") / F.col("token_count").cast("double"), 6
            ).alias("top_token_share"),
        )
        .orderBy("source")
    )


def language_id(docs: DataFrame) -> DataFrame:
    """Heuristic language ID: function-word overlap vote.

    tokens ⋈ broadcast(keyword table) → per-(doc, lang) hit count → argmax
    with deterministic tie-break (max count, then lexicographically first
    lang); docs with zero hits → 'und'.  The keyword table is lit-inlined
    (broadcast by construction); the only shuffle is the per-doc re-group.
    """
    # langs carry their LEXICOGRAPHIC index through the pipeline so the
    # per-doc argmax can run on a packed BIGINT: min_by with a string
    # value (or a struct key) is not UnsafeRow-mutable and demotes the
    # groupBy to SortAggregate — a per-partition sort of the doc × lang
    # hits stream, corpus-row scale (round 12).  packed =
    # (−hits)·2⁶ + lang_idx; min = (max hits, lexicographically first
    # lang); the string comes back from a literal array lookup.
    langs = sorted(LANG_KEYWORDS)
    if len(langs) >= (1 << 6):
        # not an assert: stripped under -O, and an overflowing index
        # bleeds into the hits limb and silently corrupts the vote
        raise ValueError(
            f"{len(langs)} languages exceed the packed vote's 6-bit "
            "lang-index limb"
        )
    kw_rows = [
        (i, word)
        for i, lang in enumerate(langs)
        for word in LANG_KEYWORDS[lang]
    ]
    spark = docs.sparkSession
    # literal_df, not createDataFrame: skips the parallelize Python-RDD
    # path (≈ core-count worker tasks per evaluation for a few dozen rows)
    kws = literal_df(spark, kw_rows, "kw_li bigint, kw string")

    toks = fan_out(docs).select("doc_id", F.explode(_tokens()).alias("token"))
    hits = (
        toks.join(F.broadcast(kws), F.lower(F.col("token")) == F.col("kw"))
        .groupBy("doc_id", "kw_li")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    packed = (-F.col("hits")) * F.lit(1 << 6) + F.col("kw_li")
    best = (
        hits.groupBy("doc_id")
        .agg(F.min(packed).alias("_p"))
        .select(
            "doc_id",
            F.element_at(
                F.array(*[F.lit(lang) for lang in langs]),
                (F.pmod(F.col("_p"), F.lit(1 << 6)) + 1).cast("int"),
            ).alias("pred_lang"),
            (-F.shiftright(F.col("_p"), 6)).alias("lang_hits"),
        )
    )
    return (
        docs.select("doc_id", "lang")
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            F.col("lang").alias("declared_lang"),
            F.coalesce("pred_lang", F.lit("und")).alias("pred_lang"),
            F.coalesce("lang_hits", F.lit(0)).alias("lang_hits"),
        )
    )


def dataset_splits(
    docs: DataFrame,
    train_pct: int = 90,
    val_pct: int = 5,
) -> DataFrame:
    """Deterministic train/val/test assignment — the split a training-data
    pipeline must make REPRODUCIBLY: the same document lands in the same
    split on every run, every engine, any partitioning.

    Mechanism: the first two hex digits of ``md5(doc_id)`` are a uniform
    0-255 bucket; lexicographic comparison of fixed-width lowercase hex IS
    numeric comparison, so the split is three string range checks — pure
    codegen, no shuffle at all (the summary consumers aggregate on split).
    ``rand(seed)`` would NOT work here: its value depends on partition
    layout, so a repartition would silently reshuffle documents between
    train and test.
    """
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    return docs.select(
        "doc_id",
        "lang",
        bucket.alias("bucket"),
        _split_expr(train_pct, val_pct).alias("split"),
    )


# --- term weighting / n-gram statistics -------------------------------------

def _norm_token_arr() -> Column:
    """Lowercased, whitespace-collapsed token array — the same normalization
    the dedup shingle path uses (NORM_TOKS_CTE in queries_ext.py), so term
    statistics and near-dup analyses agree on what a token is."""
    return F.split(
        F.trim(F.regexp_replace(F.lower(F.col("text")), "\\s+", " ")), " "
    )


def adjacent_ngrams(arr: Column, n: int) -> Column:
    """Array of adjacent word ``n``-grams of a token array, space-joined.

    Built as a ``zip_with`` ladder over ``n`` shifted ``slice``s, NOT as
    ``transform(sequence(...), element_at)``: lambda HOFs are interpreted
    (no codegen) and CollapseProject re-inlines the token-array expression
    into every lambda reference — with ``element_at`` that re-runs the
    regex tokenization once per ELEMENT (O(len²) per document; measured
    12× slower on the bench corpus at sf0.1).  The slice ladder evaluates
    the source array ``n`` times per ROW, keeping per-element work O(1).

    Docs shorter than ``n`` tokens yield an empty array (the WHEN guard
    also keeps ``slice``'s length argument non-negative — Spark's If
    evaluates branches lazily per row, so the slice never sees one).
    """
    m = F.size(arr) - (n - 1)
    out = F.slice(arr, 1, m)
    for j in range(1, n):
        out = F.zip_with(
            out,
            F.slice(arr, j + 1, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.when(F.size(arr) >= n, out).otherwise(
        F.array().cast("array<string>")
    )


def tfidf_top_terms(docs: DataFrame, k: int = 5) -> DataFrame:
    """Per-document top-``k`` terms by TF-IDF — the classic relevance /
    keyword-extraction statistic a training-data pipeline uses for topic
    balancing and near-dup triage.

    Plan: explode normalized tokens → per-(doc, term) counts (map-side
    combined, shuffle carries distinct pairs); document frequency is a
    second aggregate over those pairs (vocabulary-sized); N is a scalar
    subquery.  The df table joins back BROADCAST (a vocabulary is
    dimension-sized even at 100 TB corpora); final ranking is one window
    over doc_id.  Score = tf · ln(N/df) in doubles of exact ints — bit
    reproducible across engines; ties pinned by term.
    """
    import uuid

    toks = (
        fan_out(docs)
        .select("doc_id", F.explode(_norm_token_arr()).alias("token"))
        .filter(F.col("token") != "")
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_tab = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    # N as a SQL scalar subquery (the _window_filter pattern): one
    # cluster-side count folded into the projection — the DataFrame
    # crossJoin alternative plans a BroadcastNestedLoopJoin stage.
    tfdf = tf.join(F.broadcast(df_tab), "token")
    tag = uuid.uuid4().hex[:12]
    tfdf.createOrReplaceTempView(f"tfidf_{tag}")
    docs.createOrReplaceTempView(f"tfidf_docs_{tag}")
    scored = docs.sparkSession.sql(
        f"""
        SELECT doc_id, token, tf,
               round(tf * ln(CAST((SELECT count(*) FROM tfidf_docs_{tag})
                                  AS DOUBLE) / df), 6) AS tfidf
        FROM tfidf_{tag}
        """
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "token", "tf", "tfidf", "rank")
    )


def bigram_counts(docs: DataFrame) -> DataFrame:
    """Corpus bigram frequencies — n-gram statistics for LM data prep
    (vocabulary induction, collocation mining, contamination checks).

    Built array-native: adjacent-pair construction via the ``zip_with``
    slice ladder (``adjacent_ngrams`` — no self-join, no shuffle until the
    final count); the count aggregate is map-side combined so the shuffle
    carries one row per distinct bigram per partition.
    """
    # materialize the token array in its own projection FIRST: the slice
    # ladder references its argument ~n+2 times, and CollapseProject would
    # re-inline (and re-run) the regex tokenization into every reference
    return (
        fan_out(docs)
        .select(_norm_token_arr().alias("_toks"))
        .select(F.explode(adjacent_ngrams(F.col("_toks"), 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("bigram").asc())
    )


def kgram_fingerprints(
    docs: DataFrame,
    k: int = 8,
    p: int = 8,
    base: int = 257,
    mod: int = 1_000_003,
) -> DataFrame:
    """Rolling-hash document fingerprints: Karp–Rabin polynomial hash of
    every character ``k``-gram, sampled where ``hash % p == 0`` (Manber '94
    "Finding similar files"; the same 0-mod-p selection LBFS/rsync use for
    content-defined chunking).  Output: one row per selected position
    (doc_id, pos, fp) — a position-anchored fingerprint set that localizes
    WHERE two documents overlap, which whole-doc md5
    (``dedup.doc_fingerprints``) cannot.

    The sequential O(1)-per-position rolling update
    ``h_i = (h_{i-1}·b − c_{i-1}·b^k + c_{i+k}) mod M`` is a scan-order
    optimization; on a set-oriented engine each position's hash is computed
    independently as the k-term Horner polynomial — identical values, k×
    the arithmetic, embarrassingly parallel.

    Shape (A/B/C-measured, sf0.1): convert the text to an int code array
    ONCE per document, then run the Horner chain as ``element_at`` integer
    arithmetic inside a ``transform`` and apply the mod-p filter IN-ARRAY
    (``F.filter``) before ``inline`` explodes anything — the Generate emits
    only the ~len/p selected rows, and no per-gram string is ever
    allocated.  2× faster steady-state (6× cold) than materializing k-char
    gram strings, 2× than explode-then-hash (which drags the full text
    through the Generate).  No shuffle anywhere — the fingerprint set is
    per-row derived.  :func:`winnowed_fingerprints` is the gap-guaranteed
    upgrade: same per-gram hashes, window-min selection instead of
    0-mod-p.
    """
    codes, arr = _kgram_struct_arr(docs, k, base, mod)
    return codes.select(
        "doc_id", F.inline(F.filter(arr, lambda s: s["fp"] % p == 0))
    )


def _kgram_struct_arr(
    docs: DataFrame, k: int, base: int, mod: int
) -> tuple[DataFrame, Column]:
    """Shared k-gram hash builder: (codes df, array<struct<pos,fp>> column)
    with one struct per k-gram start position (empty for docs < k chars).

    Horner chain as a zip_with ladder over k shifted slices — NOT
    element_at inside an index-transform lambda, which would re-inline
    the split+ascii construction per ELEMENT reference (O(k·len²) per
    document, the interpreted-HOF pitfall logged in SCALE.md).  The
    ladder references _codes k times per ROW: O(k·len), linear.
    """
    from stockpulse_batch_realtime_etl_spark.operators.dedup import _norm_text

    codes = fan_out(docs).select(
        "doc_id",
        F.transform(F.split(_norm_text(), ""), lambda c: F.ascii(c)).alias(
            "_codes"
        ),
    )
    L = F.size("_codes")
    m = L - k + 1

    def code_at(off: int) -> Column:
        return F.slice(F.col("_codes"), off + 1, m)

    fp = F.transform(code_at(0), lambda c: c.cast("long") % mod)
    for t in range(1, k):
        fp = F.zip_with(fp, code_at(t), lambda h, c: (h * base + c) % mod)
    arr = F.when(
        L >= k,
        F.zip_with(
            F.sequence(F.lit(1), m),
            fp,
            lambda i, h: F.struct(i.cast("int").alias("pos"), h.alias("fp")),
        ),
    ).otherwise(F.expr("CAST(array() AS array<struct<pos:int,fp:bigint>>)"))
    return codes, arr


def winnowed_fingerprints(
    docs: DataFrame,
    k: int = 8,
    w: int = 8,
    base: int = 257,
    mod: int = 1_000_003,
) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken, SIGMOD
    '03) — the gap-GUARANTEED upgrade over 0-mod-p sampling that
    :func:`kgram_fingerprints` documents: every window of ``w`` consecutive
    k-gram positions contributes its minimum hash (rightmost on ties), so
    any shared substring of length ≥ k + w − 1 is certain to share a
    fingerprint — 0-mod-p can miss arbitrarily long matches when no gram
    hashes to 0 mod p.

    Shape — vectorized Arrow seam, SHUFFLE-FREE (a measured exception to
    the repo's expressions-first rule): the expression formulation
    (:func:`winnowed_fingerprints_expr`) runs its Horner ladder in
    Spark's INTERPRETED higher-order-function evaluator — the one hot
    path whole-stage codegen cannot cover — then explodes m·w window
    rows through a groupBy exchange.  The 100× scale probe measured that
    wall at 74–416 s for the same input (GC churn + evaluator warming;
    SCALE.md), the query sat in bench.py's variance valve because of it.
    Here each Arrow batch computes, per document, the numpy Horner chain
    (k vector ops) and a vectorized rightmost-argmin over a
    ``sliding_window_view`` (argmin of the REVERSED window view breaks
    ties rightward with no packed key, so ANY mod fits), then dedups
    in-worker with ``np.unique`` — identical selection, zero shuffles,
    and per-partition work that a 1000-executor cluster splits
    embarrassingly.  Value-identity with the expression path and with a
    sequential pure-Python reference is pinned by
    tests/test_properties.py::test_winnowing_matches_pure_python_reference.
    """
    import pandas as pd

    from stockpulse_batch_realtime_etl_spark.operators.dedup import _norm_text

    norm = fan_out(docs).select("doc_id", _norm_text().alias("_t"))

    def winnow(batches):
        import numpy as np
        from numpy.lib.stride_tricks import sliding_window_view

        for pdf in batches:
            ids, poss, fps = [], [], []
            for doc_id, s in zip(
                pdf["doc_id"].to_numpy(), pdf["_t"].to_numpy()
            ):
                if s is None:
                    continue
                m = len(s) - k + 1
                if m < 1:
                    continue
                if s.isascii():
                    codes = np.frombuffer(
                        s.encode(), dtype=np.uint8
                    ).astype(np.int64)
                else:
                    # F.ascii == code point of the character, not a byte
                    codes = np.fromiter(
                        map(ord, s), dtype=np.int64, count=len(s)
                    )
                h = codes[:m] % mod
                for t in range(1, k):
                    h = (h * base + codes[t : t + m]) % mod
                win = min(w, m)
                wv = sliding_window_view(h, win)
                idx = win - 1 - np.argmin(wv[:, ::-1], axis=1)
                pos = np.unique(np.arange(len(wv), dtype=np.int64) + idx + 1)
                ids.append(np.full(len(pos), doc_id, dtype=np.int64))
                poss.append(pos)
                fps.append(h[pos - 1])
            if ids:
                yield pd.DataFrame(
                    {
                        "doc_id": np.concatenate(ids),
                        "pos": np.concatenate(poss).astype(np.int32),
                        "fp": np.concatenate(fps),
                    }
                )

    return norm.mapInPandas(winnow, "doc_id long, pos int, fp long")


def winnowed_fingerprints_expr(
    docs: DataFrame,
    k: int = 8,
    w: int = 8,
    base: int = 257,
    mod: int = 1_000_003,
) -> DataFrame:
    """Pure-expression winnowing — the set-oriented reference formulation
    :func:`winnowed_fingerprints` is cross-checked against (identical
    output; see that docstring for why the vectorized seam is the
    production path).

    Selection rule, set-oriented: a position is selected iff it is the
    rightmost minimum of at least one window.  Each position fans out to
    the ≤ w windows containing it (an in-array ``sequence`` explode — no
    self-join), each window picks ``min_by`` a composite order string
    (fp asc, pos desc = rightmost min), and overlapping windows'
    duplicate selections collapse with one distinct.  Docs shorter than
    ``w`` grams winnow over their single truncated window.  One shuffle
    (the window-id aggregate) + the dedup exchange; fan-out is a constant
    w, never data-dependent.
    """
    codes, arr = _kgram_struct_arr(docs, k, base, mod)
    # m from the CODE array's length, NOT F.size(arr): a second reference
    # to the ladder expression re-evaluates the whole interpreted tree per
    # row (measured 45 s → 0.7 s at sf0.1 for this one projection).  Rows
    # only exist where L ≥ k (inline of the empty array emits nothing), so
    # m ≥ 1 wherever it is read.
    grams = codes.select(
        "doc_id",
        (F.size("_codes") - (k - 1)).alias("m"),
        F.inline(arr),
    )
    win = F.least(F.lit(w), F.col("m"))
    lo = F.greatest(win, F.col("pos"))
    hi = F.least(F.col("m"), F.col("pos") + win - 1)
    ends = grams.select(
        "doc_id",
        "pos",
        "fp",
        F.explode(F.sequence(lo, hi)).alias("win_end"),
    )
    # composite order: fp asc, then pos DESC (rightmost).  Packed into ONE
    # LONG — fp·2³² + (2³²−1−pos) — strictly monotone in (fp asc, pos
    # desc), so the argmin is IDENTICAL to an (fp, −pos) lexicographic
    # key.  Numeric, not a fixed-width digit string: the string key
    # allocated ~17 chars per EXPLODED row (w× the gram count — ~0.5G
    # transient strings at the 10× probe), and that GC churn was the
    # measured source of this query's multi-second run variance
    # (SCALE.md).  Exact while fp < 2³⁰ and pos < 2³¹ (fp < mod, pos is a
    # positive int32); larger mods fall back to the overflow-free string
    # key with DERIVED widths (Spark's lpad silently truncates, so a
    # hard-coded width would corrupt the selection for mod > 10**7).
    if mod <= (1 << 30):
        ordkey = F.col("fp") * F.lit(1 << 32) + (
            F.lit((1 << 32) - 1) - F.col("pos")
        )
    else:
        fp_w = len(str(mod - 1))
        pos_max = 9_999_999_999  # > 2**31: any int32 pos stays non-negative
        ordkey = F.concat(
            F.lpad(F.col("fp").cast("string"), fp_w, "0"),
            F.lpad((F.lit(pos_max) - F.col("pos")).cast("string"), 10, "0"),
        )
    sel = (
        ends.withColumn("ordkey", ordkey)
        .groupBy("doc_id", "win_end")
        .agg(F.min_by(F.struct("pos", "fp"), F.col("ordkey")).alias("s"))
    )
    return (
        sel.select("doc_id", F.col("s.pos").alias("pos"), F.col("s.fp").alias("fp"))
        .distinct()
    )


def fingerprint_match_pairs(
    docs: DataFrame,
    k: int = 8,
    p: int = 8,
    doc_cap: int = 100,
    top: int = 50,
) -> DataFrame:
    """Document pairs ranked by shared rolling-hash fingerprints — the
    MOSS-style local-overlap detector (two documents sharing many sampled
    k-gram hashes share verbatim passages, wherever they sit in the text).

    Matching on the fingerprint VALUE (position-free, so moved text still
    matches), doc-frequency-capped like ``dedup.jaccard_pairs``: a hash
    present in > ``doc_cap`` documents is boilerplate (d² pair blowup, no
    signal) and is dropped.

    Shape — JOIN-FREE pair enumeration: with the pair space per
    fingerprint capped at doc_cap²/2, pairs are cheapest generated
    in-array rather than by an inverted-index self-join (which would
    consume the expensive fingerprint subtree on both sides and hinge on
    AQE exchange reuse).  One shuffle keyed on fp: a window count tags
    each row with its fingerprint's df (so the hot-fp filter runs BEFORE
    any list is collected — the collect_list buffer is bounded by
    ``doc_cap``, never by the df of a boilerplate hash), the surviving
    ≤ doc_cap doc lists expand to ordered pairs with nested
    ``transform``/``slice`` array functions, and one final shuffle
    aggregates pair counts.  No join, no broadcast, two exchanges total.
    """
    from pyspark.sql.window import Window

    fps = kgram_fingerprints(docs, k=k, p=p).select("doc_id", "fp").distinct()
    wdf = Window.partitionBy("fp")
    cold = fps.withColumn("_df", F.count(F.lit(1)).over(wdf)).filter(
        F.col("_df") <= doc_cap
    )
    ds = cold.groupBy("fp").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ds")
    )
    pairs = ds.select(
        F.explode(
            F.flatten(
                F.transform(
                    "ds",
                    lambda a, i: F.transform(
                        F.slice(F.col("ds"), i + 2, F.size("ds")),
                        lambda b: F.struct(
                            a.alias("doc_a"), b.alias("doc_b")
                        ),
                    ),
                )
            )
        ).alias("pr")
    )
    return (
        pairs.groupBy(
            F.col("pr.doc_a").alias("doc_a"), F.col("pr.doc_b").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .orderBy(
            F.col("shared_fps").desc(), F.col("doc_a").asc(), F.col("doc_b").asc()
        )
        .limit(top)
    )


# --- contamination / sampling / LM scoring ----------------------------------

def _split_bound(boundary_idx: int) -> str:
    """Exclusive upper-bound literal for a 0-255 hex-bucket range check.
    An index of 256 must compare ABOVE every two-char hex bucket; the
    naive f"{256:02x}" is the three-char string "100", which sorts BELOW
    "1a" lexicographically and would silently empty the val split when
    train+val == 100.  "g" > "ff" in every collation we target."""
    return "g" if boundary_idx >= 256 else f"{boundary_idx:02x}"


def _split_expr(train_pct: int = 90, val_pct: int = 5) -> Column:
    """train/val/test label from the md5(doc_id) bucket — the same
    deterministic assignment as :func:`dataset_splits` (see there for why
    ``rand()`` is wrong)."""
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    train_hi = F.lit(_split_bound((256 * train_pct) // 100))
    val_hi = F.lit(_split_bound((256 * (train_pct + val_pct)) // 100))
    return (
        F.when(bucket < train_hi, "train")
        .when(bucket < val_hi, "val")
        .otherwise("test")
    )


def _doc_ngrams(n: int, arr: Column) -> Column:
    """Distinct word n-grams of a token array column (array-native: the
    ``adjacent_ngrams`` zip_with slice ladder — no self-join, no explode
    until the caller asks for one)."""
    return F.array_distinct(adjacent_ngrams(arr, n))


def contamination_overlap(
    docs: DataFrame,
    n: int = 3,
    train_pct: int = 90,
    val_pct: int = 5,
) -> DataFrame:
    """Benchmark decontamination: which train-split documents share a word
    n-gram with the held-out test split (the eval set a training pipeline
    must NOT leak).  Returns one row per contaminated train doc with the
    count of overlapping distinct n-grams.

    Plan shape: both sides reduce to DISTINCT (doc, gram) pairs; the eval
    side further collapses to DISTINCT grams, so the equi-join on gram
    emits at most one row per train (doc, gram) — no quadratic blowup even
    on stop-grams.  At 100 TB the eval side is a benchmark suite (tiny):
    Spark broadcasts it and the train side never shuffles; the per-doc
    count is a map-side-combined hash aggregate on doc_id.  If grams are
    long, substitute ``md5(gram)`` on both sides to fix the shuffle width.

    BROADCAST SCOPE: this harness stands the test SPLIT in for the
    benchmark suite, and the forced ``F.broadcast`` is sized for the
    benchmark-suite case (MMLU-class: thousands of documents).  If the
    eval side really is a multi-percent corpus split at full scale, DROP
    the hint and let AQE pick the join — a forced broadcast of a 5 TB
    gram set would OOM the driver.
    """
    toks = fan_out(docs).select(
        "doc_id",
        "lang",
        _split_expr(train_pct, val_pct).alias("split"),
        _norm_token_arr().alias("toks"),
    )
    grams = toks.select(
        "doc_id",
        "lang",
        "split",
        F.explode(_doc_ngrams(n, F.col("toks"))).alias("gram"),
    )
    eval_grams = (
        grams.where(F.col("split") == "test").select("gram").distinct()
    )
    return (
        grams.where(F.col("split") == "train")
        .join(F.broadcast(eval_grams), "gram")
        .groupBy("doc_id", "lang")
        .agg(F.count(F.lit(1)).alias("overlap_grams"))
    )


def stratified_sample(docs: DataFrame, k: int = 20) -> DataFrame:
    """Deterministic k-per-stratum sample over (lang, source) — the
    "balanced subset" op of corpus curation (equalize languages / sources
    before training).  Ordering by md5(doc_id) makes the sample uniform,
    reproducible under any partitioning, and stable across engines — a
    distributed reservoir without reservoir state.

    Plan shape: one shuffle on (lang, source) + per-stratum sort.  A giant
    stratum makes that sort one task's work at 100 TB; the fix is candidate
    thinning — filter ``bucket < ceil(256 * c·k / est_stratum_rows)`` first
    (the same md5 prefix ORDER BY means the global top-k survives any
    prefix filter that retains ≥ k rows per stratum), then rank the ~c·k
    survivors.  Thinning needs stratum-size estimates (one cheap count
    pass), so it is left to the caller at test scale.
    """
    rank = F.row_number().over(
        Window.partitionBy("lang", "source").orderBy(
            F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
        )
    )
    return (
        docs.select("doc_id", "lang", "source")
        .withColumn("sample_rank", rank)
        .where(F.col("sample_rank") <= k)
    )


def bigram_lm_scores(docs: DataFrame) -> DataFrame:
    """Corpus-conditional bigram log-likelihood per document — the
    fluency / quality signal of LM data prep (low average log-prob =
    atypical text: boilerplate, garbled extraction, wrong language).

    Model: P(w2 | w1) = c(w1 w2) / c(w1 ·) with counts over the corpus'
    own bigrams, so every document bigram is in the model (no smoothing
    term to pick).  Cross-engine hash parity: each per-bigram log-prob is
    rounded to 8 dp FIRST, summed exactly as DECIMAL (order-independent),
    and the average rounded to 6 dp — float-sum ordering can never flip
    the gate hash.

    Plan shape: one explode + two hash aggregates build the model (the
    unigram table derives from the bigram table — no second pass over
    text); scoring is two equi-joins keyed on bigram / w1 that AQE
    broadcasts while the model fits and shuffle-joins beyond, then one
    map-side-combined aggregate on doc_id.  Hot bigrams are harmless: the
    model side is distinct-keyed, so join fan-out is 1.
    """
    # materialize the regex tokenization ONCE below the consumer (CollapseProject
    # keeps the projection: the array is referenced 3×)
    toks = fan_out(docs).select(
        "doc_id", "lang", _norm_token_arr().alias("toks")
    )
    arr = F.col("toks")
    bi = toks.select(
        "doc_id",
        "lang",
        F.explode(adjacent_ngrams(arr, 2)).alias("bigram"),
    ).withColumn("w1", F.substring_index("bigram", " ", 1))
    c2 = bi.groupBy("bigram").agg(F.count(F.lit(1)).alias("n2"))
    c1 = c2.withColumn("k1", F.substring_index("bigram", " ", 1)).groupBy(
        "k1"
    ).agg(F.sum("n2").alias("n1"))
    logp = F.round(
        F.log(F.col("n2").cast("double") / F.col("n1")), 8
    ).cast("decimal(20,8)")
    return (
        bi.join(c2, "bigram")
        .join(c1, bi["w1"] == c1["k1"])
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.sum(logp).cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_logprob"),
        )
    )


def mixture_sample(
    docs: DataFrame, weights: dict[str, float]
) -> DataFrame:
    """Corpus mixing: draw the LARGEST deterministic subcorpus whose
    source composition matches the target ``weights`` — the domain
    reweighting step of LLM data curation (upweight books, downweight raw
    web), subject to availability.

    Semantics: with n_s docs available per source and target weight w_s,
    the feasible total is T = min_s(n_s / w_s); each source contributes
    its k_s = floor(T · w_s) first documents in md5(doc_id) order.  Both
    T and the per-source ranking are placement-independent, so the same
    subcorpus comes out on any cluster, any partitioning, any engine.
    Sources absent from ``weights`` (weight 0) are excluded.

    Plan shape: one hash aggregate for the per-source counts (a handful of
    rows — broadcast back), one shuffle on source for the ranking window.
    The giant-stratum note on :func:`stratified_sample` applies to the
    ranking here too, with the same md5-prefix thinning fix.
    """
    if not weights:
        raise ValueError("weights must be non-empty")
    # weights are RELATIVE (w_s / Σw is the target share); the T/k_s math is
    # scale-invariant in w, so no normalization — normalizing in float here
    # while an oracle uses the raw literals would diverge in the last ulp.
    #
    # The weight LIST is the left side of the count join: a weighted
    # source with ZERO available documents must drive T = min(n_s/w_s) to
    # 0 (empty subcorpus — the composition cannot be met), not silently
    # vanish from the min and hand back a sample that violates the target
    # mixture.
    wdf = literal_df(
        docs.sparkSession,
        sorted((s, float(w)) for s, w in weights.items()),
        "source string, w double",
    )
    in_scope = docs.where(F.col("source").isin(*sorted(weights)))
    counts = (
        wdf.join(
            in_scope.groupBy("source").agg(F.count(F.lit(1)).alias("n_s")),
            "source",
            "left",
        )
        .withColumn("n_s", F.coalesce("n_s", F.lit(0)))
        .withColumn(
            "t_feasible",
            F.min(F.col("n_s") / F.col("w")).over(
                Window.partitionBy(F.lit(1))
            ),
        )
        .select(
            "source",
            F.floor(F.col("t_feasible") * F.col("w")).alias("k_s"),
        )
    )
    rank = F.row_number().over(
        Window.partitionBy("source").orderBy(
            F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
        )
    )
    return (
        in_scope.select("doc_id", "lang", "source")
        .withColumn("sample_rank", rank)
        .join(F.broadcast(counts), "source")
        .where(F.col("sample_rank") <= F.col("k_s"))
        .select("doc_id", "lang", "source", "sample_rank")
    )


def temperature_mixture(
    docs: DataFrame, total: int = 1000, alpha: float = 0.5
) -> DataFrame:
    """Temperature-based source resampling: draw ``total`` documents
    (exactly, via largest-remainder quota rounding, unless a quota is
    capped by its source's population) with per-source quotas ∝ n_s^α —
    the multilingual/domain rebalancing rule
    (α=1 keeps natural proportions, α→0 approaches uniform; 0.3-0.7 is the
    usual range for upweighting low-resource sources without drowning
    high-resource ones).

    Cross-engine determinism is engineered, not hoped for: n_s^α for the
    default α=0.5 is ``sqrt`` (IEEE correctly-rounded on every engine,
    unlike ``pow``), per-source weights are rounded to 6 dp and summed as
    DECIMAL (order-independent — a float Σ over sources could differ in
    the last ulp between engines and flip a floor()), and the final quota
    is IEEE double multiply/divide of identical inputs.  Selection within
    a source is the md5(doc_id) prefix order shared by every sampling op
    here.

    Plan shape: one hash aggregate for source counts (broadcast back), one
    shuffle on source for the ranking window — identical scale behavior to
    :func:`mixture_sample`, including its giant-stratum thinning note.
    """
    pw = F.sqrt(F.col("n_s")) if alpha == 0.5 else F.pow("n_s", F.lit(alpha))
    # Largest-remainder (Hamilton) quota: floor() alone undershoots
    # ``total`` by up to n_sources-1 docs; redistribute the remainder +1
    # at a time to the sources with the largest fractional part (ties by
    # source asc — a total deterministic order, mirrored in the oracle).
    # raw is IEEE double of bit-identical inputs on both engines, so frac
    # ordering and the remainder count replay exactly.  The n_s cap can
    # still undershoot when a quota exceeds a source's population — that
    # residue is NOT re-cascaded (would need iteration; callers wanting
    # exactness should raise ``total`` only up to sum(n_s)).
    wall = Window.partitionBy(F.lit(1))
    raw = (
        F.lit(int(total))
        * F.col("s_s").cast("double")
        / F.col("s_tot").cast("double")
    )
    rk = F.row_number().over(
        Window.partitionBy(F.lit(1)).orderBy(
            F.col("frac").desc(), F.col("source").asc()
        )
    )
    counts = (
        docs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_s"))
        .withColumn("s_s", F.round(pw, 6).cast("decimal(38,6)"))
        .withColumn("s_tot", F.sum("s_s").over(wall))
        .withColumn("q", F.floor(raw))
        .withColumn("frac", raw - F.col("q"))
        .withColumn("rem", F.lit(int(total)) - F.sum("q").over(wall))
        .select(
            "source",
            F.least(
                F.col("n_s"),
                F.col("q")
                + F.when(rk <= F.col("rem"), F.lit(1)).otherwise(F.lit(0)),
            ).alias("k_s"),
        )
    )
    rank = F.row_number().over(
        Window.partitionBy("source").orderBy(
            F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
        )
    )
    return (
        docs.select("doc_id", "lang", "source")
        .withColumn("sample_rank", rank)
        .join(F.broadcast(counts), "source")
        .where(F.col("sample_rank") <= F.col("k_s"))
        .select("doc_id", "lang", "source", "sample_rank")
    )


def pack_sequences(
    docs: DataFrame, ctx_tokens: int = 512, n_shards: int = 8
) -> DataFrame:
    """Concat-and-chunk sequence packing: assign every document a position
    in a stream of fixed-size training sequences — the step that turns a
    curated corpus into context-window-sized model inputs with no padding
    waste (documents are concatenated in a deterministic order and the
    stream is cut every ``ctx_tokens`` tokens).

    Exact global packing is a sequential scan; the scalable form packs
    per SHARD (how real pipelines shard tokenization output): documents
    are routed to ``n_shards`` md5 shards and packed independently within
    each, so the only sequential state is a per-shard running token count
    — a window over (shard), giving n_shards-way parallelism and bounded
    per-task state at any corpus size (raise ``n_shards`` with the data;
    results stay deterministic because shard routing and intra-shard order
    are both pure md5(doc_id) functions, independent of partitioning).

    Output per document: its shard, token count, the sequence index
    (``seq_index``) its first token lands in, the offset within that
    sequence, and whether it spans a sequence boundary (boundary-crossing
    docs are the ones a loader must split or mask across the cut).
    """
    h = F.md5(F.col("doc_id").cast("string"))
    # first md5 byte as an integer (instr arithmetic, portable to the SQL
    # oracle verbatim), mod n_shards → deterministic shard routing
    nib = "0123456789abcdef"
    shard = (
        (F.expr(f"instr('{nib}', substring(md5(cast(doc_id as string)), 1, 1)) - 1") * 16
         + F.expr(f"instr('{nib}', substring(md5(cast(doc_id as string)), 2, 1)) - 1"))
        % n_shards
    ).cast("int")
    toks = F.filter(_norm_token_arr(), lambda t: t != "")
    base = docs.select(
        "doc_id",
        "source",
        F.size(toks).alias("n_tokens"),
        h.alias("h"),
        shard.alias("shard"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    out = base.withColumn("cum", cum).select(
        "doc_id",
        "source",
        "shard",
        "n_tokens",
        F.expr(f"(cum - n_tokens) div {ctx_tokens}").alias("seq_index"),
        F.expr(f"(cum - n_tokens) % {ctx_tokens}").alias("offset"),
        F.when(
            F.col("n_tokens") > 0,
            F.expr(f"(cum - 1) div {ctx_tokens}")
            > F.expr(f"(cum - n_tokens) div {ctx_tokens}"),
        )
        .otherwise(F.lit(False))
        .alias("spans_boundary"),
    )
    return out


def curation_funnel(
    docs: DataFrame,
    quality_min: float = 0.8,
    dup_token_max: float = 0.6,
    contamination_min_grams: int = 4,
) -> DataFrame:
    """The full curation pipeline as ONE query: per-stage survivor counts
    for raw → exact-dedup → quality filter → repetition filter →
    benchmark decontamination — the yield report every training-data run
    starts and ends with ("how many documents did each gate cost?").

    Composition, not re-implementation: each stage's predicate is the
    corresponding first-class operator's output (``dedup.exact_dedup``,
    :func:`quality_score`, :func:`repetition_stats`,
    :func:`contamination_overlap`), so the funnel is consistent with the
    individual gates by construction.  Stages are CUMULATIVE (a doc must
    survive all earlier gates to count later), matching how a real
    pipeline chains them.

    Plan shape: every stage produces a doc-keyed flag table; one 4-way
    doc_id equi-join assembles the flag row (AQE broadcasts the small
    sides), one aggregate computes all five conditional counts in a single
    pass, and ``stack`` unpivots to (stage_idx, stage, n_docs) rows —
    stage counts never require re-running earlier stages.
    """
    from stockpulse_batch_realtime_etl_spark.operators.dedup import (
        exact_dedup,
    )

    canon = exact_dedup(docs).select(
        F.col("kept_doc_id").alias("doc_id"), F.lit(True).alias("canon")
    )
    q = quality_score(docs).select("doc_id", "quality")
    r = repetition_stats(docs).select("doc_id", "dup_token_ratio")
    contam = (
        contamination_overlap(docs)
        .where(F.col("overlap_grams") >= contamination_min_grams)
        .select("doc_id", F.lit(True).alias("contaminated"))
    )
    s1 = F.coalesce("canon", F.lit(False))
    s2 = s1 & F.coalesce(F.col("quality") >= quality_min, F.lit(False))
    s3 = s2 & F.coalesce(
        F.col("dup_token_ratio") <= dup_token_max, F.lit(False)
    )
    s4 = s3 & ~F.coalesce("contaminated", F.lit(False))
    flags = (
        docs.select("doc_id")
        .join(canon, "doc_id", "left")
        .join(q, "doc_id", "left")
        .join(r, "doc_id", "left")
        .join(contam, "doc_id", "left")
        .select(
            s1.alias("s1"), s2.alias("s2"), s3.alias("s3"), s4.alias("s4")
        )
    )
    agg = flags.agg(
        F.count(F.lit(1)).alias("n0"),
        F.count(F.when(F.col("s1"), 1)).alias("n1"),
        F.count(F.when(F.col("s2"), 1)).alias("n2"),
        F.count(F.when(F.col("s3"), 1)).alias("n3"),
        F.count(F.when(F.col("s4"), 1)).alias("n4"),
    )
    return agg.select(
        F.expr(
            "stack(5, 0, 'raw', n0, 1, 'exact_dedup', n1,"
            " 2, 'quality', n2, 3, 'repetition', n3,"
            " 4, 'decontamination', n4) AS (stage_idx, stage, n_docs)"
        )
    )


def packing_stats(
    docs: DataFrame, ctx_tokens: int = 512, n_shards: int = 8
) -> DataFrame:
    """Per-shard packing efficiency report over :func:`pack_sequences` —
    the yield numbers a training run plans capacity with: documents and
    tokens per shard, sequences produced, boundary-crossing documents (the
    ones a loader must split/mask), and the padding waste of the final
    partial sequence.

    One hash aggregate over the packing layout (n_shards rows out);
    utilization = tokens / (sequences × ctx), exact because only the last
    sequence of a shard can be partial under concat-and-chunk.
    """
    packed = pack_sequences(docs, ctx_tokens=ctx_tokens, n_shards=n_shards)
    return (
        packed.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.count(F.when(F.col("spans_boundary"), 1)).alias(
                "boundary_docs"
            ),
        )
        .select(
            "shard",
            "n_docs",
            "n_tokens",
            "boundary_docs",
            # ceil-div without floats: sequences the shard's stream fills
            F.expr(
                f"(n_tokens + {ctx_tokens} - 1) div {ctx_tokens}"
            ).alias("n_sequences"),
            F.expr(
                f"((n_tokens + {ctx_tokens} - 1) div {ctx_tokens})"
                f" * {ctx_tokens} - n_tokens"
            ).alias("pad_tokens"),
            F.round(
                F.col("n_tokens")
                / (
                    F.expr(
                        f"(n_tokens + {ctx_tokens} - 1) div {ctx_tokens}"
                    )
                    * ctx_tokens
                ).cast("double"),
                6,
            ).alias("utilization"),
        )
    )


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition filters: the fraction of a document that is
    repeated content — the signal that catches boilerplate, keyword spam,
    and degenerate generations that length/stopword heuristics miss.

    Per document:
    * ``dup_token_ratio`` — 1 − distinct/total tokens;
    * ``top_bigram_frac`` — occurrences of the most frequent bigram over
      total bigrams (ties broken lexicographically smallest);
    * ``dup_bigram_frac`` — fraction of bigram occurrences whose bigram
      appears more than once.

    Plan shape: the token ratio is array-native (no explode); the bigram
    fractions explode once and run TWO hash aggregates — (doc, bigram)
    counts, then per-doc max / conditional sums — both map-side combined
    and keyed on doc_id, so per-task state is bounded by a document's
    distinct-bigram count, LINEAR in document length (an in-array
    frequency scan would be quadratic on long documents).  Single-token
    documents have no bigrams: their fractions are NULL via the left join
    back to the base projection.
    """
    toks = fan_out(docs).select(
        "doc_id", "lang", _norm_token_arr().alias("toks")
    )
    arr = F.col("toks")
    n_tok = F.size(arr)
    base = toks.select(
        "doc_id",
        "lang",
        F.round(
            F.lit(1.0) - F.size(F.array_distinct(arr)) / n_tok.cast("double"),
            6,
        ).alias("dup_token_ratio"),
        adjacent_ngrams(arr, 2).alias("bi"),
    )
    per_bigram = (
        base.select("doc_id", F.explode("bi").alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_doc = per_bigram.groupBy("doc_id").agg(
        F.max("c").alias("top_cnt"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).alias("dup_occ"),
        F.sum("c").alias("n_bi"),
    )
    return (
        base.select("doc_id", "lang", "dup_token_ratio")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            "dup_token_ratio",
            F.round(F.col("top_cnt") / F.col("n_bi").cast("double"), 6).alias(
                "top_bigram_frac"
            ),
            F.round(F.col("dup_occ") / F.col("n_bi").cast("double"), 6).alias(
                "dup_bigram_frac"
            ),
        )
    )


# --- segment-level (line) dedup --------------------------------------------

def doc_segments(docs: DataFrame, seg_len: int = 10) -> DataFrame:
    """Non-overlapping ``seg_len``-token segments per document — the
    "line" unit for C4-style line-level dedup, adapted to a corpus with no
    newlines (on real corpora, swap the splitter for ``split(text, '\\n')``
    and the rest of the pipeline is unchanged).  The trailing partial
    segment is kept, so every token belongs to exactly one segment.

    Shape: tokenization materialized in its OWN projection (the documented
    interpreted-lambda pitfall: a non-cheap expression inlined into a HOF
    lambda re-evaluates per element); the segment array is built with one
    ``transform`` over a ``sequence`` of segment indices doing O(seg_len)
    work each — O(tokens) per doc total — then posexploded.
    """
    toks = F.col("_toks")
    nseg = F.ceil(F.size(toks) / F.lit(float(seg_len))).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), nseg - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i * seg_len + 1, seg_len)),
    )
    return (
        fan_out(docs)
        .select("doc_id", _norm_token_arr().alias("_toks"))
        .select(
            "doc_id",
            F.posexplode(
                F.when(nseg > 0, segs).otherwise(
                    F.array().cast("array<string>")
                )
            ).alias("seg_idx", "segment"),
        )
        .filter(F.col("segment") != "")
    )


def boilerplate_segments(
    docs: DataFrame, seg_len: int = 10, min_df: int = 2
) -> DataFrame:
    """Corpus-wide repeated segments: any segment appearing in ≥ ``min_df``
    distinct documents (C4's "line appears in multiple pages" rule; in this
    corpus the hits are segments shared between duplicated documents).

    One explode + one hash aggregate; map-side combine collapses the
    per-partition repeats before the shuffle, so the exchange carries
    near-distinct (segment, doc) pairs.  At 100 TB, group on
    ``md5(segment)`` instead to bound shuffle-row width — the gate keeps the
    raw segment so the output is human-auditable.
    """
    return (
        doc_segments(docs, seg_len)
        .groupBy("segment")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= min_df)
    )


def segment_dedup_stats(
    docs: DataFrame, seg_len: int = 10, min_df: int = 2
) -> DataFrame:
    """Per-document line-dedup report: segment counts, boilerplate fraction,
    and the md5 of the cleaned text (boilerplate segments removed, original
    order preserved) — the projection a C4-style cleaner would write.

    Two inherent shuffles: (segment → document-frequency) and the regroup
    by doc_id; the df table joins back on segment (hash join — boilerplate
    sets are corpus-scale, not broadcastable at 100 TB).  Order restoration
    is in-array (sort_array over (seg_idx, segment) structs), never a
    window sort.
    """
    seg = doc_segments(docs, seg_len)
    dfreq = seg.groupBy("segment").agg(
        F.count_distinct("doc_id").alias("seg_df")
    )
    marked = seg.join(dfreq, "segment").withColumn(
        "bp", F.col("seg_df") >= min_df
    )
    kept_struct = F.when(
        ~F.col("bp"), F.struct("seg_idx", "segment")
    )  # null when boilerplate → collect_list skips it
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(F.when(F.col("bp"), 1).otherwise(0)).alias("n_boilerplate"),
        F.round(
            F.sum(F.when(F.col("bp"), 1).otherwise(0))
            / F.count(F.lit(1)).cast("double"),
            4,
        ).alias("boilerplate_frac"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(F.collect_list(kept_struct)),
                    lambda s: s["segment"],
                ),
            )
        ).alias("clean_md5"),
    )


# --- RAG-style overlapping chunking -----------------------------------------

def chunked_windows(
    docs: DataFrame, width: int = 16, stride: int = 8
) -> DataFrame:
    """Overlapping token windows for retrieval/embedding pipelines: chunks
    start at 0, stride, 2·stride, … while the start is inside the document;
    each spans ``width`` tokens (the tail chunks are shorter).  The md5
    stands in for the chunk text through the gate; ``n_chunk_tokens`` is
    derived arithmetically (``min(width, n_tokens − start)``), not by
    re-splitting.

    Same single-projection shape as :func:`doc_segments`: tokens
    materialized once, chunk array built by one ``transform`` doing
    O(width) work per chunk, posexploded — no shuffle at all.
    """
    toks = F.col("_toks")
    n_tok = F.size(toks)
    nst = F.ceil(n_tok / F.lit(float(stride))).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), nst - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i * stride + 1, width)),
    )
    return (
        fan_out(docs)
        .select("doc_id", _norm_token_arr().alias("_toks"))
        .select(
            "doc_id",
            n_tok.alias("_ntok"),
            F.posexplode(
                F.when(nst > 0, chunks).otherwise(
                    F.array().cast("array<string>")
                )
            ).alias("chunk_idx", "chunk"),
        )
        .filter(F.col("chunk") != "")
        .select(
            "doc_id",
            "chunk_idx",
            F.least(
                F.lit(width), F.col("_ntok") - F.col("chunk_idx") * stride
            ).alias("n_chunk_tokens"),
            F.md5("chunk").alias("chunk_md5"),
        )
    )


# --- per-source distribution drift ------------------------------------------

def source_kl_divergence(docs: DataFrame) -> DataFrame:
    """Token-distribution drift per source: KL(p_source ‖ p_corpus) over
    unigram distributions — the mixture-monitoring statistic that flags a
    source whose vocabulary usage diverges from the blend (scraper breakage,
    language shift, template spam).

    Every source token is by construction in the corpus distribution, so no
    smoothing term.  Cross-engine parity uses the bigram-LM recipe: each
    per-type term p_s·ln(p_s/p_c) rounds to 8 dp FIRST, sums exactly as
    DECIMAL (order-independent), final round 6 dp.

    Plan: explode once → (source, token) hash aggregate; corpus-level
    counts derive FROM that table (no second text scan); the per-source
    totals and the corpus total are tiny aggregates that broadcast back.
    """
    base = (
        fan_out(docs)
        .select("source", F.explode(_norm_token_arr()).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("c_st"))
    )
    ct = base.groupBy("token").agg(F.sum("c_st").alias("c_t"))
    ns = base.groupBy("source").agg(F.sum("c_st").alias("n_s"))
    tot = base.agg(F.sum("c_st").alias("n_total"))
    p_s = F.col("c_st") / F.col("n_s")
    p_c = F.col("c_t") / F.col("n_total")
    term = F.round(p_s * F.log(p_s / p_c), 8).cast("decimal(20,8)")
    joined = (
        base.join(ct, "token")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(tot))
    )
    return joined.groupBy("source").agg(
        F.max("n_s").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.round(F.sum(term).cast("double"), 6).alias("kl_divergence"),
    )


# --- percentile-based quality / length filtering -----------------------------

def quality_length_filter(docs: DataFrame) -> DataFrame:
    """Per-language percentile curation filter: keep a document iff its
    quality is ≥ the language's p10 quality AND its token count lies inside
    the language's [p05, p95] length band — the adaptive (corpus-relative)
    form of Gopher's fixed length/quality cutoffs, which is what you want
    when absolute thresholds don't transfer across languages.

    Exact interpolated percentiles (``F.percentile`` ≡ DuckDB
    ``quantile_cont``), rounded 6dp before the boundary comparison so an
    engine ulp can never flip a doc sitting exactly on a cutoff.

    Plan: quality+features in ONE text pass (``quality_score(keep_stats)``);
    cutoffs are a per-lang aggregate (n_langs × 3 doubles) broadcast back —
    the only data-sized shuffle is the percentile groupBy.
    """
    j = quality_score(docs, keep_stats=True)
    cuts = j.groupBy("lang").agg(
        F.round(F.percentile("quality", F.lit(0.10)), 6).alias("q_p10"),
        F.round(F.percentile("token_count", F.lit(0.05)), 6).alias("len_p05"),
        F.round(F.percentile("token_count", F.lit(0.95)), 6).alias("len_p95"),
    )
    return j.join(F.broadcast(cuts), "lang").select(
        "doc_id",
        "lang",
        "quality",
        "token_count",
        (
            (F.col("quality") >= F.col("q_p10"))
            & (F.col("token_count") >= F.col("len_p05"))
            & (F.col("token_count") <= F.col("len_p95"))
        ).alias("is_kept"),
    )


def bm25_scores(
    docs: DataFrame,
    terms: tuple[str, ...],
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 50,
) -> DataFrame:
    """Okapi BM25 ranking of the corpus for a fixed query-term set — the
    classic relevance-retrieval statistic (Robertson & Zaragoza 2009), the
    step up from :func:`tfidf_top_terms`'s keyword extraction to actual
    query-time ranking, and the standard recall stage of a RAG / retrieval
    pipeline before a neural re-ranker.

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    with the Lucene non-negative idf  ln(1 + (N − df + 0.5)/(df + 0.5)).

    Plan: the token explode filters to the query terms BEFORE its
    aggregate (a literal isin — term-matching pairs only ever reach the
    shuffle, so state is |docs that match| · |terms|, not corpus tokens);
    doc length comes from an array ``size`` with NO explode; df/N/avgdl
    are term-count- and 1-row-sized tables joined back broadcast.  The
    final top-k is TakeOrderedAndProject, never a global sort.  Per-term
    scores are rounded 6dp then DECIMAL-summed (the source_kl pattern) so
    the per-doc sum is float-order-proof; ties rank by doc_id.
    """
    arr = F.filter(_norm_token_arr(), lambda t: t != "")
    base = fan_out(docs).select(
        "doc_id", arr.alias("toks"), F.size(arr).alias("dl")
    )
    dl = base.select("doc_id", "dl")
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        base.select("doc_id", F.explode("toks").alias("token"))
        .filter(F.col("token").isin(*terms))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.round(
                F.log(
                    F.lit(1.0)
                    + (
                        F.col("n_docs").cast("double")
                        - F.col("df")
                        + F.lit(0.5)
                    )
                    / (F.col("df") + F.lit(0.5))
                )
                * (F.col("tf") * (F.lit(k1) + F.lit(1.0)))
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (
                        F.lit(1.0)
                        - F.lit(b)
                        + F.lit(b) * F.col("dl") / F.col("avgdl")
                    )
                ),
                6,
            ).alias("term_score"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum(F.col("term_score").cast("decimal(20,6)"))
            .cast("double")
            .alias("score"),
            F.count(F.lit(1)).cast("int").alias("n_terms"),
        )
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def ngram_novelty(
    docs: DataFrame, n: int = 3, hot_df_threshold: int | None = 100_000
) -> DataFrame:
    """Per-document duplicated-n-gram fraction — the RefinedWeb/C4-style
    novelty metric: over each document's DISTINCT n-grams, what fraction
    was first seen in an EARLIER document (corpus-wide min doc_id < own
    doc_id)?  High fractions flag templated/near-copied documents that
    per-doc dedup misses; the metric also estimates memorization exposure
    before training.

    Plan: one explode of in-array n-grams (``adjacent_ngrams``' slice
    ladder — O(1) per element) deduped in-array first, a (gram → min
    doc_id, df) hash aggregate, then the join back on gram — corpus-scale
    on both sides — and a final per-doc aggregate.  Documents with fewer
    than ``n`` tokens have no grams and are absent, matching the oracle.

    SKEW: the join-back key is exactly where template boilerplate bites —
    a gram present in 10% of a 100 TB corpus puts 10% of all rows on one
    reducer.  With ``hot_df_threshold`` set (the default), the aggregate
    that already computes first_doc also counts each gram's document
    frequency, grams above the threshold become a broadcast-split HOT set
    routed through :func:`operators.skew.salted_join` (fact side salted
    ``xxhash64 % 16``, the tiny hot dim slice exploded across the salt
    range), and the cold remainder takes the ordinary equi-join; the
    union is exactly the plain join's multiset, so the oracle is
    unchanged.  The hot-key SET is at most |gram occurrences|/threshold
    rows — broadcastable by construction.  Cost: one extra pass of the
    gram stream for the semi/anti split — the standard price of removing
    a hotspot AQE's post-shuffle splitter cannot (a sort-merge join
    cannot split one key's sort group).  ``hot_df_threshold=None``
    restores the single-join plan.  The default is calibrated for real
    corpora (boilerplate grams hit millions of documents); the registered
    gate query passes a low threshold so the hot path executes non-empty
    on the synthetic corpus and its results land under the value hash.
    """
    # token array materialized first — same CollapseProject re-inlining
    # hazard as bigram_counts (the ladder references the array ~n+2 times)
    grams = (
        fan_out(docs)
        .select("doc_id", _norm_token_arr().alias("_toks"))
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(adjacent_ngrams(F.col("_toks"), n))
            ).alias("gram"),
        )
    )
    first = grams.groupBy("gram").agg(
        F.min("doc_id").alias("first_doc"),
        F.count(F.lit(1)).alias("_df"),
    )
    if hot_df_threshold is None:
        joined = grams.join(first.drop("_df"), "gram")
    else:
        from stockpulse_batch_realtime_etl_spark.operators.skew import (
            salted_join,
        )

        hot = first.filter(F.col("_df") > hot_df_threshold)
        hot_keys = hot.select("gram")
        hot_dim = hot.drop("_df")
        cold_dim = first.filter(F.col("_df") <= hot_df_threshold).drop("_df")
        fact_hot = grams.join(F.broadcast(hot_keys), "gram", "left_semi")
        fact_cold = grams.join(F.broadcast(hot_keys), "gram", "left_anti")
        joined = fact_cold.join(cold_dim, "gram").unionByName(
            salted_join(fact_hot, hot_dim, "gram", 16)
            .select("gram", "doc_id", "first_doc")
        )
    seen = F.sum(
        F.when(F.col("first_doc") < F.col("doc_id"), 1).otherwise(0)
    ).cast("long")
    return (
        joined
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            seen.alias("n_seen_before"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_seen_before",
            F.round(
                F.col("n_seen_before").cast("double") / F.col("n_grams"), 6
            ).alias("dup_fraction"),
        )
    )


def hapax_stats(docs: DataFrame) -> DataFrame:
    """Per-source lexical-diversity profile: vocabulary size, hapax
    legomena (tokens occurring exactly once), type-token ratio, and the
    head token's share — the corpus-health signals (Heaps/Zipf shape) that
    catch template spam (tiny TTR, heavy head) and OCR noise (hapax
    explosion) before training data ships.

    Plan: ONE explode → (source, token) hash aggregate (map-side combined),
    then a per-source aggregate over the TOKEN-LEVEL rollup (vocab-sized,
    not corpus-sized).  Ratios are exact BIGINT divisions rounded 6dp;
    the head token pins ties to the lexically smallest token.
    """
    toks = (
        fan_out(docs)
        .select("source", F.explode(_tokens()).alias("token"))
        .filter(F.col("token") != "")
    )
    tf = toks.groupBy("source", "token").agg(F.count(F.lit(1)).alias("tf"))
    return (
        tf.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("vocab_size"),
            F.sum("tf").alias("token_count"),
            F.sum((F.col("tf") == 1).cast("bigint")).alias("hapax_count"),
            F.min_by(
                "token", F.struct(F.negate(F.col("tf")), F.col("token"))
            ).alias("head_token"),
            F.max("tf").alias("head_tf"),
        )
        .select(
            "source",
            "vocab_size",
            "token_count",
            "hapax_count",
            "head_token",
            F.round(F.col("vocab_size") / F.col("token_count"), 6).alias("ttr"),
            F.round(F.col("hapax_count") / F.col("vocab_size"), 6).alias(
                "hapax_ratio"
            ),
            F.round(F.col("head_tf") / F.col("token_count"), 6).alias(
                "head_share"
            ),
        )
        .orderBy("source")
    )


def bpe_learn_merges(
    docs: DataFrame, n_merges: int = 8, checkpoint_every: int = 0
) -> DataFrame:
    """DISTRIBUTED BPE vocabulary learning — the tokenizer-training shape
    (Sennrich et al. 2016) a training-data pipeline actually runs, not
    just the fixed-merge-table application in :func:`bpe_token_counts`.

    Algorithm (classic BPE on the word-frequency table):

    1. One corpus pass builds ``(word, freq)`` for lowercase-alpha words —
       the ONLY data-sized aggregate; everything after operates on the
       vocabulary table (~|V| rows, millions at 100 TB — trivially small).
    2. ``n_merges`` rounds of: adjacent-symbol-pair counts weighted by
       word frequency (map-side-combined groupBy), pick the best pair
       (max count, then lexicographically smallest — fully deterministic),
       and re-tokenize every word's symbol array IN-ARRAY with one
       ``F.aggregate`` fold (left-greedy, exactly Sennrich's scan: after
       a merge the new symbol L·R can never re-merge within the pass
       since R is non-empty, so fold ≡ scan).

    The per-round best-pair pick is a LIMIT-1 ``collect`` — an O(1)
    driver scalar per round (the "broadcast best merge" shape), never
    O(data).  Only the CORPUS pass is ``localCheckpoint``ed by default;
    the per-round folds chain lazily, so round k replays rounds 1..k-1's
    in-array folds on the vocabulary table — O(rounds²·|V|) re-tokenize
    work on a table ~10⁶ rows at 100 TB, measured 1.6× faster than
    materializing every round at sf0.1 (8 fewer job barriers).  At
    tokenizer scale that trade FLIPS, now measured rather than claimed
    (a 256-merge sweep at sf0.1, where the lowercase-alpha vocabulary
    exhausts mergeable pairs at 89 rounds):
    lazy 34.8 s vs ``checkpoint_every=16`` 14.9 s vs ``=64`` 18.5 s, with
    IDENTICAL learned merges.  Pass ``checkpoint_every=k`` (k≈16) beyond
    a few dozen merges to cut the replay chain every k rounds, bounding
    both replay work (O(rounds·k·|V|)) and plan/analysis depth.
    Output: one row per learned merge (step, left_sym, right_sym,
    merged, pair_count).
    """
    merges, _seqs = _bpe_train(docs, n_merges, checkpoint_every)
    return literal_df(
        docs.sparkSession,
        merges,
        "step int, left_sym string, right_sym string, merged string, "
        "pair_count long",
    ).orderBy("step")


def _bpe_train(docs: DataFrame, n_merges: int, checkpoint_every: int = 0):
    """Shared BPE training loop: returns (merge list, final vocab seqs
    DataFrame (word, freq, syms)) — the learner reports the merges, the
    compression report applies the final seqs corpus-wide.

    ``checkpoint_every=k`` localCheckpoints the vocab seqs table every k
    merge rounds, cutting the lazy fold chain: replay work drops from
    O(rounds²·|V|) to O(rounds·k·|V|) and plan depth stays bounded — the
    knob a 30k-merge tokenizer run needs.  0 (default) keeps the
    measured-faster fully-lazy chain at small n_merges.  The learned
    merges are IDENTICAL either way (checkpointing only materializes;
    the fold arithmetic is unchanged)."""
    words = (
        fan_out(docs)
        .select(F.explode(_tokens()).alias("word"))
        .filter(F.col("word").rlike("^[a-z]+$"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    seqs = words.select(
        "word", "freq", F.split("word", "").alias("syms")
    ).localCheckpoint()
    merges = []
    for step in range(1, n_merges + 1):
        pairs = (
            seqs.select(
                "freq",
                F.explode(
                    F.arrays_zip(
                        F.slice(F.col("syms"), 1, F.size("syms") - 1).alias("l"),
                        F.slice(F.col("syms"), 2, F.size("syms") - 1).alias("r"),
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").alias("cnt"))
        )
        best = pairs.orderBy(
            F.col("cnt").desc(), F.col("l").asc(), F.col("r").asc()
        ).limit(1).collect()
        if not best:
            break
        left, right, cnt = best[0]["l"], best[0]["r"], int(best[0]["cnt"])
        merged = left + right
        merges.append((step, left, right, merged, cnt))
        fold = F.aggregate(
            "syms",
            F.expr("cast(array() as array<string>)"),
            lambda acc, s: F.when(
                (F.try_element_at(acc, F.lit(-1)) == F.lit(left))
                & (s == F.lit(right)),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
                ),
            ).otherwise(F.concat(acc, F.array(s))),
        )
        seqs = seqs.withColumn("syms", fold)
        if checkpoint_every and step % checkpoint_every == 0:
            # eager=False: the cut lands on first execution (next round's
            # pair count), adding no extra job barrier of its own
            seqs = seqs.localCheckpoint(eager=False)
    return merges, seqs


def bpe_compression_stats(docs: DataFrame, n_merges: int = 8) -> DataFrame:
    """The payoff measurement of :func:`bpe_learn_merges`: apply the
    learned vocabulary corpus-wide and report per-source compression —
    word instances, characters, BPE tokens, and chars-per-token over the
    trained (lowercase-alpha) word population.

    The key economy: the final vocab table (word → merged symbol array)
    IS the tokenization of every trained word, so application is a JOIN
    of the corpus word-instance stream against a vocab-sized table — no
    per-document merge replay.  At 100 TB the vocab (~10⁶ rows) joins
    broadcast or one-shuffle per AQE; the word-instance side aggregates
    map-side-combined per source.
    """
    _merges, seqs = _bpe_train(docs, n_merges)
    vocab = seqs.select("word", F.size("syms").alias("_n_toks"))
    inst = (
        fan_out(docs)
        .select("source", F.explode(_tokens()).alias("word"))
        .filter(F.col("word").rlike("^[a-z]+$"))
    )
    agg = (
        inst.join(vocab, "word")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.length("word")).cast("long").alias("n_chars"),
            F.sum("_n_toks").cast("long").alias("bpe_tokens"),
        )
    )
    return agg.select(
        "source",
        "n_words",
        "n_chars",
        "bpe_tokens",
        F.round(
            F.col("n_chars").cast("double") / F.col("bpe_tokens").cast("double"),
            6,
        ).alias("chars_per_token"),
    ).orderBy("source")
