"""Extension query registrations: dedup / similarity / text analysis.

Same contract as queries_registry (which imports this module at the end):
every entry has a DuckDB oracle that replays the exact algorithm — all
hashing is md5 so both engines compute identical values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stockpulse_batch_realtime_etl_spark.operators import dedup, similarity, text
from stockpulse_batch_realtime_etl_spark.queries_registry import (
    BARS_CTE,
    ORACLES,
    TICKS_CTE,
    register,
)
from stockpulse_batch_realtime_etl_spark.sources.tables import load_table

# --- shared oracle CTE fragments -------------------------------------------

#: normalized text + token list (matches dedup._norm_text + split(" "))
NORM_TOKS_CTE = r"""
norm AS (
  SELECT doc_id,
         trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS ntext
  FROM documents
),
tl AS (SELECT doc_id, string_split(ntext, ' ') AS toks FROM norm),
toks AS (
  SELECT doc_id, unnest(toks) AS token, generate_subscripts(toks, 1) AS i
  FROM tl
)
"""

#: distinct 3-word shingles via positional self-join (= dedup.shingles n=3)
SHINGLES_CTE = (
    NORM_TOKS_CTE
    + """,
shingles AS (
  SELECT DISTINCT a.doc_id,
         a.token || ' ' || b.token || ' ' || c.token AS shingle
  FROM toks a
  JOIN toks b ON b.doc_id = a.doc_id AND b.i = a.i + 1
  JOIN toks c ON c.doc_id = a.doc_id AND c.i = a.i + 2
)
"""
)

NUM_HASHES = 12
BAND_SIZE = 2

#: 60-bit minhash: min over the 15-hex-char md5 prefix — mirrors the
#: Spark side, where the prefix packs into a BIGINT so the shingle-stream
#: aggregate stays a HashAggregate (see dedup.minhash_signatures).
_MH_COLS = ",\n  ".join(
    f"min(substr(md5('{i}:' || shingle), 1, 15)) AS mh{i}"
    for i in range(NUM_HASHES)
)
SIGS_CTE = (
    SHINGLES_CTE
    + f""",
sigs AS (
  SELECT doc_id,
  {_MH_COLS}
  FROM shingles GROUP BY doc_id
)
"""
)

_BAND_SELECTS = "\nUNION ALL\n".join(
    f"SELECT doc_id, {b} AS band_idx, "
    f"md5(concat_ws('|', {', '.join(f'mh{b * BAND_SIZE + j}' for j in range(BAND_SIZE))})) AS band_hash "
    f"FROM sigs"
    for b in range(NUM_HASHES // BAND_SIZE)
)


# --- text analysis ----------------------------------------------------------

_STOP_SQL = "[" + ", ".join(f"'{s}'" for s in text.STOPWORDS) + "]"

@register(
    "text_stats",
    oracle=rf"""
SELECT
  doc_id,
  lang,
  source,
  length(text) AS char_len,
  len(string_split_regex(trim(text), '\s+')) AS token_count,
  len(list_distinct(string_split_regex(trim(text), '\s+'))) AS distinct_tokens,
  round(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
        / nullif(length(text), 0), 4) AS alpha_ratio,
  round(length(regexp_replace(text, '[^0-9]', '', 'g'))
        / nullif(length(text), 0), 4) AS digit_ratio,
  round(len(list_filter(string_split_regex(trim(text), '\s+'),
                        t -> list_contains({_STOP_SQL}, lower(t))))
        / nullif(len(string_split_regex(trim(text), '\s+')), 0), 4) AS stopword_ratio,
  round((length(text) - len(string_split_regex(trim(text), '\s+')) + 1)
        / nullif(len(string_split_regex(trim(text), '\s+')), 0), 4) AS avg_token_len
FROM documents
""",
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.text_stats(load_table(spark, sf_dir, "documents"))


@register(
    "token_counts",
    oracle=rf"""
WITH {NORM_TOKS_CTE.lstrip()}
SELECT token, count(*) AS freq
FROM (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
  FROM documents
)
WHERE token != ''
GROUP BY token
ORDER BY freq DESC, token ASC
""",
)
def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.token_counts(load_table(spark, sf_dir, "documents"))


@register(
    "language_id",
    oracle="""
WITH kws AS (
  SELECT * FROM (VALUES
    {kw_values}
  ) AS v(kw_lang, kw)
),
toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
  FROM documents
),
hits AS (
  SELECT doc_id, kw_lang, count(*) AS hits
  FROM toks JOIN kws ON lower(token) = kw
  GROUP BY doc_id, kw_lang
),
best AS (
  SELECT doc_id, kw_lang AS pred_lang, hits AS lang_hits,
         row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, kw_lang ASC) AS rn
  FROM hits
)
SELECT d.doc_id,
       d.lang AS declared_lang,
       coalesce(b.pred_lang, 'und') AS pred_lang,
       coalesce(b.lang_hits, 0) AS lang_hits
FROM documents d
LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.doc_id = d.doc_id
""".format(
        kw_values=",\n    ".join(
            f"('{lang}', '{w}')"
            for lang, words in sorted(text.LANG_KEYWORDS.items())
            for w in words
        )
    ),
)
def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.language_id(load_table(spark, sf_dir, "documents"))


@register(
    "bpe_token_counts",
    oracle=rf"""
SELECT token, count(*) AS freq
FROM (
  SELECT unnest(regexp_extract_all(text, '{text.BPE_PATTERN}', 0)) AS token
  FROM documents
)
GROUP BY token
ORDER BY freq DESC, token ASC
""",
)
def q_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.bpe_token_counts(load_table(spark, sf_dir, "documents"))


def _bpe_learn_oracle(n_merges: int = 8) -> str:
    """Unrolled DuckDB replay of distributed BPE learning
    (text.bpe_learn_merges): per merge round, a weighted adjacent-pair
    count, the deterministic best pick (max count, lexicographically
    smallest pair), and the left-greedy re-tokenize.  The greedy scan is
    expressed relationally: consecutive runs of pair hits (gaps-and-
    islands on position), keep every other hit in each run (overlapping
    hits only occur when left==right), drop the position after each kept
    hit, rebuild the symbol list ordered by position — provably the same
    result as the Spark side's fold (a merged symbol can never re-merge
    within a pass since the right side is non-empty)."""
    ctes = [r"""s0 AS (
  SELECT word, freq, string_split(word, '') AS syms
  FROM (
    SELECT word, count(*) AS freq FROM (
      SELECT unnest(string_split_regex(trim(text), '\s+')) AS word
      FROM documents
    ) WHERE regexp_matches(word, '^[a-z]+$')
    GROUP BY word
  )
)"""]
    for k in range(1, n_merges + 1):
        p = k - 1
        ctes.append(f"""p{k} AS (
  SELECT syms[i] AS l, syms[i + 1] AS r, sum(freq) AS cnt
  FROM (SELECT *, unnest(generate_series(1, len(syms) - 1)) AS i FROM s{p})
  GROUP BY l, r
),
b{k} AS (
  SELECT l, r, l || r AS merged, cnt FROM p{k} ORDER BY cnt DESC, l, r LIMIT 1
),
pos{k} AS (
  -- LEFT JOIN ON TRUE, not CROSS JOIN: when the corpus runs out of
  -- mergeable pairs before round {k}, b{k} is EMPTY and a cross join
  -- would annihilate s{k} — the left join keeps every word with null
  -- l/r (hit coalesces to false), so s{k} = s{p}, matching the Spark
  -- side's break-out-of-the-loop behavior
  SELECT word, freq, i, syms[i] AS cur, merged,
         coalesce(i < len(syms) AND syms[i] = l AND syms[i + 1] = r,
                  false) AS hit
  FROM (SELECT s.*, b.l, b.r, b.merged,
               unnest(generate_series(1, len(s.syms))) AS i
        FROM s{p} s LEFT JOIN b{k} b ON true)
),
sel{k} AS (
  SELECT *, hit AND ((i - min(i) OVER (PARTITION BY word, blk)) % 2 = 0)
         AS selected
  FROM (SELECT *, CASE WHEN hit THEN i - row_number()
                  OVER (PARTITION BY word, hit ORDER BY i) END AS blk
        FROM pos{k})
),
s{k} AS (
  SELECT word, freq,
         list(CASE WHEN selected THEN merged ELSE cur END ORDER BY i) AS syms
  FROM (SELECT *, coalesce(lag(selected) OVER (PARTITION BY word ORDER BY i),
                           false) AS skip
        FROM sel{k})
  WHERE NOT skip
  GROUP BY word, freq
)""")
    unions = "\n  UNION ALL ".join(
        f"SELECT {k} AS step, l AS left_sym, r AS right_sym, merged, "
        f"CAST(cnt AS BIGINT) AS pair_count FROM b{k}"
        for k in range(1, n_merges + 1)
    )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT * FROM (\n  {unions}\n) ORDER BY step"
    )


def _bpe_compression_oracle(n_merges: int = 8) -> str:
    """Compression replay: the final vocab CTE (s{n}) holds every trained
    word's merged symbol array, so application is a join of the corpus
    word-instance stream against len(syms) — exactly the Spark plan."""
    base = _bpe_learn_oracle(n_merges)
    ctes = base[: base.rindex("\nSELECT * FROM (")]
    return rf"""{ctes},
wt AS (SELECT word, len(syms) AS n_toks FROM s{n_merges}),
inst AS (
  SELECT source, word FROM (
    SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS word
    FROM documents
  ) WHERE regexp_matches(word, '^[a-z]+$')
)
SELECT source,
       count(*) AS n_words,
       CAST(sum(length(word)) AS BIGINT) AS n_chars,
       CAST(sum(n_toks) AS BIGINT) AS bpe_tokens,
       round(CAST(sum(length(word)) AS DOUBLE)
             / CAST(sum(n_toks) AS DOUBLE), 6) AS chars_per_token
FROM inst JOIN wt USING (word)
GROUP BY source ORDER BY source"""


@register("bpe_learned_merges", oracle=_bpe_learn_oracle(8))
def q_bpe_learned_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8 rounds of distributed BPE merge learning over the corpus."""
    return text.bpe_learn_merges(load_table(spark, sf_dir, "documents"), 8)


@register("bpe_compression_stats", oracle=_bpe_compression_oracle(8))
def q_bpe_compression_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned BPE vocab corpus-wide: per-source compression."""
    return text.bpe_compression_stats(
        load_table(spark, sf_dir, "documents"), 8
    )


@register(
    "lang_vocab",
    oracle=r"""
SELECT lang,
       count(DISTINCT doc_id) AS doc_count,
       count(*) AS token_count,
       count(DISTINCT token) AS vocab_size
FROM (
  SELECT lang, doc_id,
         unnest(string_split_regex(trim(text), '\s+')) AS token
  FROM documents
)
WHERE token != ''
GROUP BY lang
ORDER BY lang
""",
)
def q_lang_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.lang_vocab(load_table(spark, sf_dir, "documents"))


@register(
    "hapax_stats",
    oracle=r"""
WITH toks AS (
  SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS token
  FROM documents
),
tf AS (
  SELECT source, token, count(*) AS tf
  FROM toks WHERE token != ''
  GROUP BY source, token
),
agg AS (
  SELECT source,
    count(*) AS vocab_size,
    CAST(sum(tf) AS BIGINT) AS token_count,
    CAST(sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax_count,
    max(tf) AS head_tf
  FROM tf GROUP BY source
),
head AS (
  SELECT source, token AS head_token
  FROM (SELECT source, token,
               row_number() OVER (PARTITION BY source
                                  ORDER BY tf DESC, token ASC) AS rn
        FROM tf)
  WHERE rn = 1
)
SELECT a.source, vocab_size, token_count, hapax_count, head_token,
  round(vocab_size / CAST(token_count AS DOUBLE), 6) AS ttr,
  round(hapax_count / CAST(vocab_size AS DOUBLE), 6) AS hapax_ratio,
  round(head_tf / CAST(token_count AS DOUBLE), 6) AS head_share
FROM agg a JOIN head h ON h.source = a.source
ORDER BY a.source
""",
)
def q_hapax_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source lexical diversity: vocab, hapax, TTR, head-token share."""
    return text.hapax_stats(load_table(spark, sf_dir, "documents"))


#: quality_score consumes text_stats OUTPUT (alpha/stopword ratios already
#: rounded 4dp there), so the oracle replays the same rounding points.
#: ONE shared builder for every oracle that replays text.quality_score —
#: three gates (quality_score, dedup_survivors, quality_length_filter)
#: depend on this formula, so a weight/clamp change edits exactly one
#: string and all three gates re-verify it.
def _quality_ctes(carry: tuple[str, ...] = (), q_cols: tuple[str, ...] = ()) -> str:
    """``stats``+``q`` CTE pair replaying ``text.quality_score``.

    ``carry``: extra document columns carried through ``stats``;
    ``q_cols``: extra select expressions (may alias/cast ``stats`` columns)
    emitted into ``q`` alongside ``doc_id`` and ``quality``.
    """
    carry_sql = "".join(f"\n  {c}," for c in carry)
    qcols_sql = "".join(f" {c}," for c in q_cols)
    # all literals cast to DOUBLE: DuckDB types bare 0.25/0.1 as DECIMAL and
    # would compute exactly where Spark computes in binary floating point
    return rf"""stats AS (
SELECT
  doc_id,{carry_sql}
  len(string_split_regex(trim(text), '\s+')) AS token_count,
  len(list_distinct(string_split_regex(trim(text), '\s+'))) AS distinct_tokens,
  round(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
        / nullif(length(text), 0), 4) AS alpha_ratio,
  round(len(list_filter(string_split_regex(trim(text), '\s+'),
                        t -> list_contains({_STOP_SQL}, lower(t))))
        / nullif(len(string_split_regex(trim(text), '\s+')), 0), 4) AS stopword_ratio
FROM documents
),
q AS (
SELECT doc_id,{qcols_sql}
  round(
      CAST(0.25 AS DOUBLE) * least(greatest(token_count / CAST(50.0 AS DOUBLE), CAST(0.0 AS DOUBLE)), CAST(1.0 AS DOUBLE))
    + CAST(0.25 AS DOUBLE) * least(greatest(alpha_ratio / CAST(0.8 AS DOUBLE), CAST(0.0 AS DOUBLE)), CAST(1.0 AS DOUBLE))
    + CAST(0.25 AS DOUBLE) * least(greatest(stopword_ratio / CAST(0.1 AS DOUBLE), CAST(0.0 AS DOUBLE)), CAST(1.0 AS DOUBLE))
    + CAST(0.25 AS DOUBLE) * least(greatest(distinct_tokens / nullif(token_count, 0) / CAST(0.5 AS DOUBLE), CAST(0.0 AS DOUBLE)), CAST(1.0 AS DOUBLE))
  , 6) AS quality
FROM stats
)"""


@register(
    "quality_score",
    oracle=f"""
WITH {_quality_ctes(carry=("lang", "source"), q_cols=("lang", "source"))}
SELECT doc_id, lang, source, quality
FROM q
""",
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.quality_score(load_table(spark, sf_dir, "documents"))


# --- dedup ------------------------------------------------------------------

@register(
    "doc_fingerprints",
    oracle=r"""
SELECT doc_id,
       md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
       length(text) AS char_len
FROM documents
""",
)
def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.doc_fingerprints(load_table(spark, sf_dir, "documents"))


@register(
    "exact_dedup",
    oracle=r"""
SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
       min(doc_id) AS kept_doc_id,
       count(*) AS dup_count
FROM documents
GROUP BY 1
""",
)
def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(load_table(spark, sf_dir, "documents"))


@register(
    "minhash_signatures",
    oracle=f"WITH {SIGS_CTE.lstrip()} SELECT * FROM sigs",
)
def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_signatures(
        load_table(spark, sf_dir, "documents"), NUM_HASHES, 3
    )


@register(
    "lsh_candidate_pairs",
    oracle=f"""
WITH {SIGS_CTE.lstrip()},
bands AS (
{_BAND_SELECTS}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a
JOIN bands b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
            AND a.doc_id < b.doc_id
""",
)
def q_lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.lsh_candidate_pairs(
        load_table(spark, sf_dir, "documents"), NUM_HASHES, BAND_SIZE, 3
    )


#: shared by dup_groups (auto kernel) and dup_groups_star (star kernel
#: pinned): both kernels converge to the same unique min-label fixpoint, so
#: one recursive-transitive-closure oracle gates both.
_DUP_GROUPS_ORACLE = f"""
WITH RECURSIVE {SIGS_CTE.lstrip()},
bands AS (
{_BAND_SELECTS}
),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
              AND a.doc_id < b.doc_id
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM cands
  UNION ALL SELECT doc_b, doc_a FROM cands
),
-- transitive closure: r = every node reachable from doc_id (components are
-- tiny near-dup clusters, so the closure is bounded); min(r) = the unique
-- min-label fixpoint Spark's propagation converges to
reach(doc_id, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.doc_id = e.b
)
SELECT
  d.doc_id,
  coalesce(c.group_id, d.doc_id) AS group_id,
  coalesce(c.group_id, d.doc_id) = d.doc_id AS is_canonical
FROM documents d
LEFT JOIN (SELECT doc_id, min(r) AS group_id FROM reach GROUP BY doc_id) c
  ON c.doc_id = d.doc_id
"""


@register("dup_groups", oracle=_DUP_GROUPS_ORACLE)
def q_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.dup_groups(
        load_table(spark, sf_dir, "documents"), NUM_HASHES, BAND_SIZE, 3
    )


@register("dup_groups_star", oracle=_DUP_GROUPS_ORACLE)
def q_dup_groups_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components with the large-star/small-star kernel PINNED
    (method='star'): at gate scale the auto dispatch always picks
    min-label (edges < STAR_EDGE_THRESHOLD), so this query is the only
    end-to-end driver execution of the O(log n)-round scale kernel —
    without it the star path would be covered by local equality tests
    alone."""
    return dedup.dup_groups(
        load_table(spark, sf_dir, "documents"),
        NUM_HASHES,
        BAND_SIZE,
        3,
        method="star",
    )


#: Document-frequency cap for the jaccard verify join: a shingle appearing in
#: more documents than this is a stop-gram whose df² candidate pairs carry no
#: near-dup signal — dropping it bounds the self-join at scale.
JACCARD_DF_CAP = 200


@register(
    "jaccard_top_pairs",
    oracle=f"""
WITH {SHINGLES_CTE.lstrip()},
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM shingles GROUP BY doc_id),
keep AS (
  SELECT s.doc_id, s.shingle FROM shingles s
  JOIN (SELECT shingle FROM shingles
        GROUP BY shingle HAVING count(*) <= {JACCARD_DF_CAP}) ok
    ON s.shingle = ok.shingle
),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS intersection
  FROM keep a JOIN keep b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(intersection / (sa.n_shingles + sb.n_shingles - intersection), 6)
         AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
ORDER BY jaccard DESC, doc_a ASC, doc_b ASC
LIMIT 20
""",
)
def q_jaccard_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.jaccard_pairs(
        load_table(spark, sf_dir, "documents"), 3, 0.0, 20, df_cap=JACCARD_DF_CAP
    )


@register(
    "minhash_jaccard_estimate",
    oracle=f"""
WITH {SIGS_CTE.lstrip()},
bands AS (
{_BAND_SELECTS}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
              AND a.doc_id < b.doc_id
),
est AS (
  SELECT c.doc_a, c.doc_b,
         round((CAST(sa.mh0 = sb.mh0 AS INT) + CAST(sa.mh1 = sb.mh1 AS INT) + CAST(sa.mh2 = sb.mh2 AS INT) + CAST(sa.mh3 = sb.mh3 AS INT) + CAST(sa.mh4 = sb.mh4 AS INT) + CAST(sa.mh5 = sb.mh5 AS INT) + CAST(sa.mh6 = sb.mh6 AS INT) + CAST(sa.mh7 = sb.mh7 AS INT) + CAST(sa.mh8 = sb.mh8 AS INT) + CAST(sa.mh9 = sb.mh9 AS INT) + CAST(sa.mh10 = sb.mh10 AS INT) + CAST(sa.mh11 = sb.mh11 AS INT))
               / CAST(12 AS DOUBLE), 6) AS est_jaccard
  FROM cand c
  JOIN sigs sa ON sa.doc_id = c.doc_a
  JOIN sigs sb ON sb.doc_id = c.doc_b
),
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM shingles GROUP BY doc_id),
inter AS (
  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS intersection
  FROM shingles x JOIN shingles y
    ON x.shingle = y.shingle AND x.doc_id < y.doc_id
  GROUP BY 1, 2
),
ex AS (
  SELECT e.doc_a, e.doc_b, e.est_jaccard,
    round(coalesce(i.intersection, 0)
          / (za.n_shingles + zb.n_shingles - coalesce(i.intersection, 0)), 6)
      AS exact_jaccard
  FROM est e
  LEFT JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
  JOIN sizes za ON za.doc_id = e.doc_a
  JOIN sizes zb ON zb.doc_id = e.doc_b
)
SELECT doc_a, doc_b, est_jaccard, exact_jaccard,
       round(abs(est_jaccard - exact_jaccard), 6) AS abs_err
FROM ex ORDER BY doc_a, doc_b
""",
)
def q_minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured MinHash estimator accuracy over LSH candidate pairs."""
    return dedup.minhash_jaccard_estimate(
        load_table(spark, sf_dir, "documents"), NUM_HASHES, BAND_SIZE, 3
    )


def _simhash_oracle(bits: int = 16) -> str:
    bit_sums = ",\n    ".join(
        f"sum(CASE WHEN ((strpos('0123456789abcdef', substr(md5(token), {b // 4 + 1}, 1)) - 1 >> {b % 4}) & 1) = 1 "
        f"THEN 1 ELSE -1 END) AS s{b}"
        for b in range(bits)
    )
    fp = " + ".join(f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(bits))
    return f"""
WITH {NORM_TOKS_CTE.lstrip()},
sums AS (
  SELECT doc_id,
    {bit_sums}
  FROM toks WHERE token != ''
  GROUP BY doc_id
)
SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM sums
"""


@register("simhash_fingerprints", oracle=_simhash_oracle(16))
def q_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_fingerprints(load_table(spark, sf_dir, "documents"), 16)


#: 32-bit fingerprints for the near-dup search (vs 16 for the fingerprint
#: table): with b bands over f bits each band carries f/b bits, and band
#: buckets shrink exponentially in band width — at 16 bits a 4-bit band has
#: only 16 values, so every bucket holds ~n/16 docs and candidate
#: generation degenerates toward n²; at 32 bits (8-bit bands, 256 values)
#: the same corpus yields ~100× fewer candidate pairs.  Recall guarantee
#: (hamming ≤ 3 ⇒ ≥1 of 4 bands identical) is unchanged.
_SH_BANDS = "\nUNION ALL\n".join(
    f"SELECT doc_id, simhash, {b} AS band_idx, (simhash >> {b * 8}) & 255 AS band_val FROM fp"
    for b in range(4)
)


@register(
    "simhash_near_dups",
    oracle=f"""
WITH fp AS ({_simhash_oracle(32).strip()}),
bands AS (
{_SH_BANDS}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM bands a
JOIN bands b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
            AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
""",
)
def q_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_near_dups(load_table(spark, sf_dir, "documents"), 32, 3, 4)


# --- similarity search ------------------------------------------------------

_QUERY_IDS = list(range(10))

_COS_PAIRS_SQL = """
exploded AS (
  SELECT query_id, cand_id,
         CAST(unnest(q_emb) AS DOUBLE) AS qv,
         CAST(unnest(c_emb) AS DOUBLE) AS cv
  FROM pairs
),
scored AS (
  SELECT query_id, cand_id,
         round(sum(qv * cv) / (sqrt(sum(qv * qv)) * sqrt(sum(cv * cv))), 6)
           AS cos_sim
  FROM exploded
  GROUP BY query_id, cand_id
)
"""


@register(
    "ann_brute_force_topk",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
  WHERE vec_id IN ({", ".join(map(str, _QUERY_IDS))})
),
c AS (SELECT vec_id AS cand_id, embedding AS c_emb FROM embeddings),
pairs AS (
  SELECT query_id, q_emb, cand_id, c_emb FROM q, c WHERE query_id != cand_id
),
{_COS_PAIRS_SQL.strip()},
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC, cand_id ASC
  ) AS rank
  FROM scored
)
SELECT query_id, cand_id, cos_sim, rank FROM ranked WHERE rank <= 5
""",
)
def q_ann_brute_force(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.brute_force_topk(
        load_table(spark, sf_dir, "embeddings"), _QUERY_IDS, 5
    )


@register(
    "label_centroid_similarity",
    oracle="""
WITH comp AS (
  SELECT label,
         generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS val
  FROM embeddings
),
cent AS (
  SELECT label, pos,
         round(CAST(sum(CAST(val AS DECIMAL(25,9))) AS DOUBLE) / count(*), 9)
           AS c
  FROM comp GROUP BY label, pos
),
arr AS (
  SELECT label, list(c ORDER BY pos) AS centroid FROM cent GROUP BY label
),
pairs AS (
  SELECT a.label AS label_a, b.label AS label_b,
         a.centroid AS ca, b.centroid AS cb
  FROM arr a JOIN arr b ON a.label < b.label
),
exploded AS (
  SELECT label_a, label_b, unnest(ca) AS x, unnest(cb) AS y FROM pairs
)
SELECT label_a, label_b,
       round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 6) AS cos_sim
FROM exploded
GROUP BY label_a, label_b
ORDER BY label_a, label_b
""",
)
def q_label_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine between per-label embedding centroids."""
    return similarity.label_centroid_similarity(
        load_table(spark, sf_dir, "embeddings")
    )


# The vectorized scale path (similarity.brute_force_topk_np) was a
# registered query through r9; it is bit-identical to ann_brute_force_topk
# (same oracle, same rows) so the duplicate registration was retired.
# The equivalence is still pinned as a test (tests/test_similarity.py) and
# the function remains the ANN-ladder recall-truth engine.


_BUCKET_SQL = " + ".join(
    f"(CASE WHEN embedding[{i + 1}] >= 0 THEN {1 << i} ELSE 0 END)" for i in range(8)
)


@register(
    "ann_lsh_bucketed_topk",
    oracle=f"""
WITH wb AS (
  SELECT vec_id, embedding, CAST({_BUCKET_SQL} AS INT) AS bucket FROM embeddings
),
q AS (
  SELECT vec_id AS query_id, embedding AS q_emb, bucket AS q_bucket FROM wb
  WHERE vec_id IN ({", ".join(map(str, _QUERY_IDS))})
),
pairs AS (
  SELECT query_id, q_emb, wb.vec_id AS cand_id, wb.embedding AS c_emb
  FROM wb JOIN q ON wb.bucket = q.q_bucket AND wb.vec_id != q.query_id
),
{_COS_PAIRS_SQL.strip()},
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC, cand_id ASC
  ) AS rank
  FROM scored
)
SELECT query_id, cand_id, cos_sim, rank FROM ranked WHERE rank <= 5
""",
)
def q_ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.lsh_bucketed_topk(
        load_table(spark, sf_dir, "embeddings"), _QUERY_IDS, 5, 8
    )


_BUCKET4_SQL = " + ".join(
    f"(CASE WHEN embedding[{i + 1}] >= 0 THEN {1 << i} ELSE 0 END)" for i in range(4)
)


@register(
    "embedding_near_dup_pairs",
    oracle=f"""
WITH wb AS (
  SELECT vec_id, embedding, CAST({_BUCKET4_SQL} AS INT) AS bucket FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS query_id, a.embedding AS q_emb,
         b.vec_id AS cand_id, b.embedding AS c_emb
  FROM wb a JOIN wb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
),
{_COS_PAIRS_SQL.strip()}
SELECT query_id AS vec_a, cand_id AS vec_b, cos_sim
FROM scored WHERE cos_sim >= 0.25
""",
)
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.embedding_near_dup_pairs(
        load_table(spark, sf_dir, "embeddings"), 0.25, 4
    )


_NCELLS = 8

#: Adaptive IVF SEARCH cell count, as a scalar subquery — the EXACT SQL
#: mirror of similarity.adaptive_ncells_search (max(8, isqrt(n) // 5)): the
#: registered IVF rungs pass ncells=None (adaptive), so the oracle must
#: derive the SAME cell count from the SAME corpus rather than pin 8 — a
#: regenerated/larger fixture then flips BOTH sides together instead of
#: turning the gate into a hash mismatch.  Resolves to 8 at every shipped
#: sf (n=500, 2000).  floor(sqrt(CAST n AS DOUBLE)) == isqrt(n) for every
#: feasible oracle corpus (IEEE sqrt is correctly rounded; divergence needs
#: n ≳ 2^52).
_NCELLS_SEARCH_SQL = (
    "(SELECT greatest(8, CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) "
    "AS BIGINT) // 5) FROM embeddings)"
)

#: Adaptive SemDeDup cell count (similarity.adaptive_ncells: cells ∝ n so
#: cell size stays ~250): max(8, ceil(n / 250)).  Same fixture-drift
#: rationale as _NCELLS_SEARCH_SQL; resolves to 8 at every shipped sf.
_NCELLS_DEDUP_SQL = (
    "(SELECT greatest(8, CAST(ceil(count(*) / 250.0) AS BIGINT)) "
    "FROM embeddings)"
)


@register(
    "ann_ivf_topk",
    oracle=f"""
WITH cent AS (
  SELECT vec_id AS cent_id, embedding AS cent_emb FROM embeddings
  WHERE vec_id < {_NCELLS_SEARCH_SQL}
),
vc AS (
  SELECT v.vec_id, c.cent_id,
         CAST(unnest(v.embedding) AS DOUBLE) AS vv,
         CAST(unnest(c.cent_emb) AS DOUBLE) AS cv
  FROM embeddings v, cent c
),
vc_scored AS (
  SELECT vec_id, cent_id,
         round(sum(vv * cv) / (sqrt(sum(vv * vv)) * sqrt(sum(cv * cv))), 6)
           AS cos
  FROM vc GROUP BY vec_id, cent_id
),
assign AS (
  SELECT vec_id, cent_id AS cell FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id ORDER BY cos DESC, cent_id ASC
    ) AS rn
    FROM vc_scored
  ) WHERE rn = 1
),
q AS (
  SELECT a.vec_id AS query_id, e.embedding AS q_emb, a.cell AS q_cell
  FROM assign a JOIN embeddings e ON e.vec_id = a.vec_id
  WHERE a.vec_id IN ({", ".join(map(str, _QUERY_IDS))})
),
pairs AS (
  SELECT q.query_id, q.q_emb, a.vec_id AS cand_id, e.embedding AS c_emb
  FROM q
  JOIN assign a ON a.cell = q.q_cell AND a.vec_id != q.query_id
  JOIN embeddings e ON e.vec_id = a.vec_id
),
{_COS_PAIRS_SQL.strip()},
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC, cand_id ASC
  ) AS rank
  FROM scored
)
SELECT query_id, cand_id, cos_sim, rank FROM ranked WHERE rank <= 5
""",
)
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded IVF rung, ncells=None → adaptive_ncells_search (√n cells;
    resolves to the historical 8 at every shipped sf, and the oracle
    derives the same count via _NCELLS_SEARCH_SQL at any other)."""
    return similarity.ivf_topk(
        load_table(spark, sf_dir, "embeddings"), _QUERY_IDS, 5, None
    )


def _kmeans_assign_parts(ncells: int | str, iters: int) -> list[str]:
    """CTE chain replaying kmeans_centroids + final assignment: long-form
    embeddings ``e``, seed centroids ``c0``, per round sN (round-6 cosine
    scores) → aN (argmax cell) → cN (round-9 element-wise means), ending at
    ``af`` = (vec_id, cell).  Shared by the IVF-kmeans search oracle and
    the SemDeDup oracle."""
    parts = [
        """e AS (
  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
         generate_subscripts(embedding, 1) AS d
  FROM embeddings
)""",
        f"""c0 AS (
  SELECT vec_id AS cell, d, x AS cx FROM e WHERE vec_id < {ncells}
)""",
    ]
    for i in range(iters):
        parts.append(f"""s{i + 1} AS (
  SELECT e.vec_id, c.cell,
         round(sum(e.x * c.cx)
               / (sqrt(sum(e.x * e.x)) * sqrt(sum(c.cx * c.cx))), 6) AS cos
  FROM e JOIN c{i} c ON e.d = c.d
  GROUP BY e.vec_id, c.cell
)""")
        parts.append(f"""a{i + 1} AS (
  SELECT vec_id, cell FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id ORDER BY cos DESC, cell ASC) AS rn
    FROM s{i + 1}
  ) WHERE rn = 1
)""")
        parts.append(f"""c{i + 1} AS (
  SELECT a.cell, e.d, round(sum(e.x) / count(*), 9) AS cx
  FROM e JOIN a{i + 1} a ON e.vec_id = a.vec_id
  GROUP BY a.cell, e.d
)""")
    parts.append(f"""sf AS (
  SELECT e.vec_id, c.cell,
         round(sum(e.x * c.cx)
               / (sqrt(sum(e.x * e.x)) * sqrt(sum(c.cx * c.cx))), 6) AS cos
  FROM e JOIN c{iters} c ON e.d = c.d
  GROUP BY e.vec_id, c.cell
)""")
    parts.append("""af AS (
  SELECT vec_id, cell FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id ORDER BY cos DESC, cell ASC) AS rn
    FROM sf
  ) WHERE rn = 1
)""")
    return parts


def _kmeans_ivf_oracle(ncells: int | str, iters: int, k: int) -> str:
    """Unrolled spherical-k-means IVF replay: the shared assignment chain +
    cell-restricted search."""
    parts = _kmeans_assign_parts(ncells, iters)
    qids = ", ".join(map(str, _QUERY_IDS))
    parts.append(f"""scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         round(sum(qe.x * ce.x)
               / (sqrt(sum(qe.x * qe.x)) * sqrt(sum(ce.x * ce.x))), 6)
           AS cos_sim
  FROM af q
  JOIN af c ON c.cell = q.cell AND c.vec_id != q.vec_id
  JOIN e qe ON qe.vec_id = q.vec_id
  JOIN e ce ON ce.vec_id = c.vec_id AND ce.d = qe.d
  WHERE q.vec_id IN ({qids})
  GROUP BY q.vec_id, c.vec_id
)""")
    parts.append("""ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC, cand_id ASC) AS rank
  FROM scored
)""")
    body = ",\n".join(parts)
    return (
        f"WITH {body}\n"
        f"SELECT query_id, cand_id, cos_sim, rank FROM ranked WHERE rank <= {k}"
    )


@register(
    "ann_ivf_kmeans_topk",
    oracle=_kmeans_ivf_oracle(_NCELLS_SEARCH_SQL, 2, 5),
)
def q_ann_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd-refined IVF rung, ncells=None → adaptive_ncells_search
    (oracle mirrors the rule via _NCELLS_SEARCH_SQL)."""
    return similarity.ivf_kmeans_topk(
        load_table(spark, sf_dir, "embeddings"), _QUERY_IDS, 5, None, 2
    )


# --- JSON decode + DLQ split (ops S6/S8/F11) --------------------------------

from stockpulse_batch_realtime_etl_spark.sources.dlq import split_raw_stream
from stockpulse_batch_realtime_etl_spark.sources.ticks import (
    RAW_JSON_SQL,
    raw_json_corpus,
)

#: DuckDB parses via try_cast(... AS JSON) (NULL on malformed — the
#: equivalent of from_json's PERMISSIVE null row; plain json_extract throws
#: on malformed input even behind json_valid() guards).
RAW_CTE = f"""WITH raw AS ({RAW_JSON_SQL}),
parsed AS (
  SELECT raw.*,
    upper(json_extract_string(j, '$.symbol')) AS p_symbol,
    coalesce(CAST(json_extract(j, '$.price') AS DOUBLE),
             CAST(json_extract(j, '$.close') AS DOUBLE)) AS p_price,
    CAST(json_extract(j, '$.volume') AS BIGINT) AS p_volume,
    try_cast(json_extract_string(j, '$.event_time') AS TIMESTAMP) AS p_event_time,
    j IS NULL AS malformed,
    json_extract_string(j, '$.symbol') IS NULL AS no_symbol
  FROM (SELECT *, try_cast(value AS JSON) AS j FROM raw) raw
)"""


@register(
    "json_decode_ticks",
    oracle=f"""
{RAW_CTE}
SELECT p_symbol AS symbol, p_price AS price, p_volume AS volume,
       p_event_time AS event_time
FROM parsed
WHERE NOT malformed AND NOT no_symbol
  AND p_price IS NOT NULL AND p_event_time IS NOT NULL
""",
)
def q_json_decode_ticks(spark: SparkSession, sf_dir: str) -> DataFrame:
    split = split_raw_stream(raw_json_corpus(spark, sf_dir))
    return split.ticks.select("symbol", "price", "volume", "event_time")


@register(
    "dlq_failed_events",
    oracle=f"""
{RAW_CTE}
SELECT
  'consumer' AS source,
  topic,
  partition AS partition_id,
  "offset" AS offset_id,
  value AS raw_value,
  CASE
    WHEN malformed THEN 'JSONDecodeError: malformed record'
    WHEN no_symbol THEN 'KeyError: ''symbol'''
    WHEN p_price IS NULL THEN 'KeyError: ''price'''
    ELSE 'ValueError: unparseable event_time'
  END AS error_message
FROM parsed
WHERE NOT (NOT malformed AND NOT no_symbol
           AND p_price IS NOT NULL AND p_event_time IS NOT NULL)
""",
)
def q_dlq_failed_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    split = split_raw_stream(raw_json_corpus(spark, sf_dir))
    return split.failed.select(
        "source", "topic", "partition_id", "offset_id", "raw_value", "error_message"
    )


# --- streaming pipeline, end-to-end (ops S5-S8, ST1-ST7) --------------------

#: The streaming run aggregates exactly the VALID ticks of the raw JSON
#: corpus, so its oracle is the OHLCV aggregate over the parsed rows — the
#: full wire-format → decode → DLQ-split → watermarked-window-agg → upsert
#: path is value-checked against SQL, not just row-counted.
@register(
    "streaming_ohlcv_bars",
    oracle=f"""
{RAW_CTE},
ticks AS (
  SELECT p_symbol AS symbol, p_price AS price, p_volume AS volume,
         p_event_time AS event_time
  FROM parsed
  WHERE NOT malformed AND NOT no_symbol
    AND p_price IS NOT NULL AND p_event_time IS NOT NULL
)
SELECT
  symbol,
  date_trunc('minute', event_time) AS bucket_start,
  round(arg_min(price, event_time), 4) AS open,
  round(max(price), 4)  AS high,
  round(min(price), 4)  AS low,
  round(arg_max(price, event_time), 4) AS close,
  CAST(sum(coalesce(volume, 0)) AS BIGINT) AS volume_sum,
  count(*) AS tick_count
FROM ticks
GROUP BY symbol, date_trunc('minute', event_time)
""",
)
def q_streaming_ohlcv_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stockpulse_batch_realtime_etl_spark.streaming.job import (
        run_pipeline_available_now,
    )

    bars = run_pipeline_available_now(spark, sf_dir)
    return bars.select(
        "symbol",
        "bucket_start",
        F.round("open", 4).alias("open"),
        F.round("high", 4).alias("high"),
        F.round("low", 4).alias("low"),
        F.round("close", 4).alias("close"),
        F.col("volume_sum").cast("long").alias("volume_sum"),
        F.col("tick_count").cast("long").alias("tick_count"),
    )


# --- training-pipeline plumbing: splits + streaming dedup -------------------

@register(
    "dataset_splits",
    oracle="""
SELECT
  doc_id,
  lang,
  substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket,
  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'train'
       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'f3' THEN 'val'
       ELSE 'test' END AS split
FROM documents
""",
)
def q_dataset_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.dataset_splits(load_table(spark, sf_dir, "documents"), 90, 5)


@register(
    "tfidf_top_terms",
    oracle=f"""
WITH {NORM_TOKS_CTE.lstrip()},
tf AS (
  SELECT doc_id, token, count(*) AS tf
  FROM toks WHERE token != '' GROUP BY doc_id, token
),
n AS (SELECT count(*) AS n_docs FROM documents),
dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
scored AS (
  SELECT tf.doc_id, tf.token, tf.tf,
         round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfq.df), 6) AS tfidf
  FROM tf JOIN dfq ON tf.token = dfq.token CROSS JOIN n
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, token ASC) AS rank
  FROM scored
)
SELECT doc_id, token, tf, tfidf, rank FROM ranked WHERE rank <= 5
""",
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.tfidf_top_terms(load_table(spark, sf_dir, "documents"), 5)


@register(
    "bigram_counts",
    oracle=f"""
WITH {NORM_TOKS_CTE.lstrip()},
bi AS (
  SELECT a.doc_id, a.token || ' ' || b.token AS bigram
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.i = a.i + 1
  WHERE a.token != '' AND b.token != ''
)
SELECT bigram, count(*) AS freq
FROM bi GROUP BY bigram
ORDER BY freq DESC, bigram ASC
""",
)
def q_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.bigram_counts(load_table(spark, sf_dir, "documents"))


@register(
    "streaming_dedup_ticks",
    oracle=f"""
{RAW_CTE}
SELECT DISTINCT p_symbol AS symbol, p_event_time AS event_time
FROM parsed
WHERE NOT malformed AND NOT no_symbol
  AND p_price IS NOT NULL AND p_event_time IS NOT NULL
""",
)
def q_streaming_dedup_ticks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stockpulse_batch_realtime_etl_spark.streaming.job import (
        run_dedup_available_now,
    )

    return run_dedup_available_now(spark, sf_dir)


# --- multimodal plumbing (mapInPandas; oracle replays md5 arithmetic) -------

from stockpulse_batch_realtime_etl_spark.operators import multimodal


def _nib_sql(pos: int) -> str:
    return f"(strpos('0123456789abcdef', substr(md5(text), {pos + 1}, 1)) - 1)"


@register(
    "multimodal_features",
    oracle=f"""
SELECT
  doc_id AS asset_id,
  ['image', 'audio', 'video'][CAST(doc_id % 3 AS INT) + 1] AS media_type,
  octet_length(encode(text)) AS byte_len,
  md5(text) AS content_md5,
  CASE WHEN doc_id % 3 = 0
       THEN 64 + {_nib_sql(0)} * 16 + {_nib_sql(1)} END AS width,
  CASE WHEN doc_id % 3 = 0
       THEN 64 + {_nib_sql(2)} * 16 + {_nib_sql(3)} END AS height,
  CASE WHEN doc_id % 3 != 0
       THEN 1000 + {_nib_sql(0)} * 4096 + {_nib_sql(1)} * 256
            + {_nib_sql(2)} * 16 + {_nib_sql(3)} END AS duration_ms
FROM documents
""",
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = multimodal.media_from_documents(load_table(spark, sf_dir, "documents"))
    return multimodal.extract_features(media)


#: Frame sampling is the 1→N multimodal explode (one row per sampled frame).
#: The "frames" are deterministic byte-range slices (the codec stub), so the
#: oracle replays them with BLOB substring arithmetic and compares md5s —
#: the pipeline shape (mapInPandas explode, binary payloads) is fully
#: value-checked even though the real decoder is stubbed.
@register(
    "frame_samples",
    oracle="""
WITH vids AS (
  -- DuckDB cannot slice BLOBs; the corpus is verified pure-ASCII at every
  -- sf, so VARCHAR substring replays the Spark side's byte slicing exactly
  SELECT doc_id AS asset_id, text AS payload,
         greatest(1, octet_length(encode(text)) // 4) AS step
  FROM documents WHERE doc_id % 3 = 2
),
frames AS (
  SELECT asset_id, i AS frame_idx,
         substring(payload, CAST(i * step + 1 AS BIGINT), CAST(step AS BIGINT))
           AS frame_bytes
  FROM vids, (SELECT unnest(generate_series(0, 3)) AS i)
)
SELECT asset_id, frame_idx,
       md5(frame_bytes) AS frame_md5,
       octet_length(encode(frame_bytes)) AS frame_len
FROM frames
""",
)
def q_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = multimodal.media_from_documents(load_table(spark, sf_dir, "documents"))
    frames = multimodal.sample_frames(media, 4)
    return frames.select(
        "asset_id",
        "frame_idx",
        F.md5("frame_bytes").alias("frame_md5"),
        F.length("frame_bytes").cast("long").alias("frame_len"),
    )


#: REAL codec round trip: per-doc payloads are genuine 24-bit BMP / binary
#: PPM / 16-bit PCM WAV / LZW-compressed GIF / baseline TIFF bytes
#: (numpy encoders), decoded back by independent pure-numpy parsers
#: inside mapInPandas — header parse, BMP row-padding strip + bottom-up
#: flip + BGR→RGB swap, RIFF chunk walk, and (r13) the full GIF path
#: (variable-width LSB-first LZW decompression, extension-block
#: skipping, interlace row re-sequencing, palette mapping) plus the
#: TIFF IFD walk (both byte orders, inline-vs-offset tag values,
#: multi-strip assembly — and, r14, the four-way TIFF sub-robin:
#: chunky RGB / 8-bit grayscale × uncompressed / PackBits, with
#: WhiteIsZero files stored inverted so the photometric-0
#: normalization is oracle-pinned).  Because the encoded values are
#: (7·id+13·i) mod 256 / ((31·id+17·i) mod 65536)−32768 / the GIF
#: palette closed form at logical position i, DuckDB replays every
#: output — including the position-weighted checksum that breaks on any
#: ordering bug — without ever touching the binary.  Width/height/
#: sample_rate come from the parsed HEADERS on the Spark side and from
#: the generator arithmetic on the oracle side, so header round-tripping
#: is value-checked too.
@register(
    "multimodal_decoded_stats",
    oracle="""
WITH base AS (
  SELECT doc_id AS asset_id,
         CASE CAST(doc_id % 5 AS INT) WHEN 0 THEN 'bmp' WHEN 1 THEN 'ppm'
              WHEN 2 THEN 'wav' WHEN 3 THEN 'gif' ELSE 'tiff'
              END AS format,
         CAST(4 + doc_id % 13 AS INT) AS w,
         CAST(4 + doc_id % 11 AS INT) AS h,
         (1 << CAST(2 + doc_id % 7 AS INT)) AS pc
  FROM documents
),
sized AS (
  SELECT asset_id, format, w, h, pc,
         CASE WHEN format = 'wav' THEN 64 + asset_id % 101
              -- TIFF sub-variants (asset_id // 5) % 10: odd = GRAY
              -- (one channel), even = chunky RGB; the netpbm slot's odd
              -- sub-variants are P5 grayscale PGMs (r14).  The r15
              -- PALETTE overlay on variant 5 expands to RGB
              WHEN format = 'tiff' AND (asset_id // 5) % 10 = 5
                   AND (asset_id // 50) % 3 >= 1
              THEN w * h * 3
              -- the r15 CMYK overlay on variant 7 keeps 4 ink samples
              WHEN format = 'tiff' AND (asset_id // 5) % 10 = 7
                   AND (asset_id // 50) % 3 >= 1
              THEN w * h * 4
              WHEN format = 'tiff' AND (asset_id // 5) % 2 = 1
              THEN w * h
              -- r15 netpbm overlay (a//50)%3: 1 = P4 bilevel (one
              -- channel on both lanes), 2 = 16-bit (lane channels)
              WHEN format = 'ppm' AND (asset_id // 50) % 3 = 1
              THEN w * h
              WHEN format = 'ppm' AND (asset_id // 5) % 2 = 1
              THEN w * h
              ELSE w * h * 3 END AS n_values
  FROM base
),
vi AS (
  SELECT *, unnest(generate_series(0, n_values - 1)) AS i FROM sized
),
vj AS (
  -- Effective palette index for the palette-mapped formats.  GIF:
  -- pixel k = i//3 transmits j = (3a+5k) mod pc; transparent ids
  -- ((a//10)%2=1) declare index (3a) mod pc transparent, composed to
  -- the LSD background (3a+7) mod pc — the substitution pins the
  -- decoder's composition path.  BMP sub-variants (a//5)%3: 1 = 8-bit
  -- paletted (j = (3a+5k) mod pc), 2 = 8-bit RLE8 over the
  -- run-friendly (3a+5*(k//6)) mod pc form (runs of 6 so the RLE run
  -- packets genuinely fire).
  SELECT *, CASE WHEN format = 'gif' THEN
         CASE WHEN (asset_id // 10) % 2 = 1
                   AND (3 * asset_id + 5 * (i // 3)) % pc
                       = (3 * asset_id) % pc
              THEN (3 * asset_id + 7) % pc
              ELSE (3 * asset_id + 5 * (i // 3)) % pc END
         -- r15 DEPTH overlay (a//50)%3: variant 1 caps the palette
         -- at 16 (4-bit) or 2 (1-bit); RLE4 (variant 2 overlay 1)
         -- caps at 16 — the index closed forms are otherwise shared
         WHEN format = 'bmp' AND (asset_id // 5) % 3 = 1
         THEN (3 * asset_id + 5 * (i // 3))
              % (CASE CAST((asset_id // 50) % 3 AS INT)
                 WHEN 1 THEN least(pc, 16) WHEN 2 THEN 2 ELSE pc END)
         WHEN format = 'bmp' AND (asset_id // 5) % 3 = 2
         THEN (3 * asset_id + 5 * ((i // 3) // 6))
              % (CASE WHEN (asset_id // 50) % 3 = 1
                 THEN least(pc, 16) ELSE pc END)
         END AS j,
         -- 8x8 block index of pixel i//3 (JPEG-in-TIFF overlay, r15)
         CASE WHEN format = 'tiff'
              THEN (((i // 3) // w) // 8) * ((w + 7) // 8)
                   + (((i // 3) % w) // 8) END AS blk
  FROM vi
),
v AS (
  SELECT asset_id, format, w, h, n_values, i,
         CASE WHEN format = 'wav'
              THEN ((31 * asset_id + 17 * i) % 65536) - 32768
              WHEN j IS NOT NULL
              -- palette-mapped: channel i%3 reads the (7j+a / 11j+2a /
              -- 13j+3a) mod 256 palette closed form at effective index j
              THEN (CASE CAST(i % 3 AS INT)
                    WHEN 0 THEN 7 * j + asset_id
                    WHEN 1 THEN 11 * j + 2 * asset_id
                    ELSE 13 * j + 3 * asset_id END) % 256
              -- r15 netpbm overlays: P4 bilevel decodes 0/1 intensity
              -- (stored 1 = black, normalized white = 1); 16-bit
              -- maxval-65535 samples carry the PNG16 closed form
              WHEN format = 'ppm' AND (asset_id // 50) % 3 = 1
              THEN CASE WHEN (3 * asset_id + i // 4) % 7 < 3
                        THEN 1 ELSE 0 END
              WHEN format = 'ppm' AND (asset_id // 50) % 3 = 2
              THEN (1237 * asset_id + 4099 * i) % 65536
              -- 16-BIT 565 BITFIELDS BMP (r15, variant 0 overlay 1):
              -- stored grid values expand v*255 // (2^w - 1)
              WHEN format = 'bmp' AND (asset_id // 5) % 3 = 0
                   AND (asset_id // 50) % 3 = 1
              THEN CASE WHEN CAST(i % 3 AS INT) = 1
                   THEN ((7 * asset_id + 13 * i) % 64) * 255 // 63
                   ELSE ((7 * asset_id + 13 * i) % 32) * 255 // 31 END
              -- JPEG-IN-TIFF overlays: variant 2 overlay 1 (r15,
              -- NEW-style compression 7) and overlay 2 (r16,
              -- OLD-style compression 6 via JPEGInterchangeFormat
              -- 513/514) both embed the id's block-constant baseline
              -- JPEG stream — replay the jpeg_stats closed form
              -- (BT.601, floor(x+0.5), same evaluation order) with
              -- yv/cb/cr = (7a+13b / 11a+5b / 3a+17b) mod 256 at
              -- block index blk
              WHEN format = 'tiff' AND (asset_id // 5) % 10 = 2
                   AND (asset_id // 50) % 3 >= 1
              THEN CAST(CASE CAST(i % 3 AS INT)
                   WHEN 0 THEN least(255, greatest(0, floor(
                     (7 * asset_id + 13 * blk) % 256
                     + 1.402 * ((3 * asset_id + 17 * blk) % 256 - 128)
                     + 0.5)))
                   WHEN 1 THEN least(255, greatest(0, floor(
                     (7 * asset_id + 13 * blk) % 256
                     - 0.344136 * ((11 * asset_id + 5 * blk) % 256 - 128)
                     - 0.714136 * ((3 * asset_id + 17 * blk) % 256 - 128)
                     + 0.5)))
                   ELSE least(255, greatest(0, floor(
                     (7 * asset_id + 13 * blk) % 256
                     + 1.772 * ((11 * asset_id + 5 * blk) % 256 - 128)
                     + 0.5)))
                   END AS BIGINT)
              -- CMYK TIFF overlay (r15, variant 7): 16-bit inks carry
              -- the PNG16 closed form; 8-bit inks fall through to the
              -- generic (7a+13i) mod 256 ELSE arm
              WHEN format = 'tiff' AND (asset_id // 5) % 10 = 7
                   AND (asset_id // 50) % 3 = 2
              THEN (1237 * asset_id + 4099 * i) % 65536
              -- PALETTE-COLOR TIFF overlay (r15, variant 5): channel
              -- c of pixel k reads ColorMap flat entry c*n + idx with
              -- idx = (3a+5k) mod n (n = 256 for 8-bit, 16 for 4-bit),
              -- entries on the PNG16 closed form at FULL 16-bit range
              WHEN format = 'tiff' AND (asset_id // 5) % 10 = 5
                   AND (asset_id // 50) % 3 >= 1
              THEN (1237 * asset_id + 4099 * (
                     CAST(i % 3 AS INT)
                     * (CASE WHEN (asset_id // 50) % 3 = 1
                        THEN 256 ELSE 16 END)
                     + (3 * asset_id + 5 * (i // 3))
                       % (CASE WHEN (asset_id // 50) % 3 = 1
                          THEN 256 ELSE 16 END)
                   )) % 65536
              -- BILEVEL overlays (r15, the scanned-document shapes):
              -- variant 1 overlay 1/2 (uncompressed packed rows /
              -- CCITT Group 4) and variant 3 overlay 1/2 (CCITT
              -- Modified Huffman / Group 3 1D-with-EOLs) decode 0/1
              -- intensities from WhiteIsZero fax files storing
              -- 1-intensity — runs of 4-12 px exercise the fax run
              -- codes and 2D modes for real
              WHEN format = 'tiff' AND (asset_id // 5) % 10 IN (1, 3)
                   AND (asset_id // 50) % 3 >= 1
              THEN CASE WHEN (3 * asset_id + i // 4) % 7 < 3
                        THEN 1 ELSE 0 END
              -- grayscale + PackBits variant: run-friendly closed form
              -- (runs of 5 so replicate packets are really emitted);
              -- WhiteIsZero ids store INVERTED bytes, so matching this
              -- form pins the decoder's photometric-0 normalization
              WHEN format = 'tiff' AND (asset_id // 5) % 10 = 3
              THEN (7 * asset_id + 13 * (i // 5)) % 256
              -- 16-BIT sub-variants (r14): the PNG16 closed form at
              -- full 0..65535 range (RGB over 3wh positions, gray wh),
              -- with the r15 SAMPLEFORMAT overlay (a//50)%3: 0 =
              -- unsigned n, 1 = SIGNED (variant 8 int16 n-32768;
              -- variant 9 int32 (n-32768)*65536), 2 = IEEE FLOAT on
              -- the 16.16 grid — the fixed-point decode recovers
              -- exactly n-32768 for both variants
              WHEN format = 'tiff' AND (asset_id // 5) % 10 >= 8
              THEN CASE CAST((asset_id // 50) % 3 AS INT)
                   WHEN 0 THEN (1237 * asset_id + 4099 * i) % 65536
                   WHEN 2 THEN ((1237 * asset_id + 4099 * i) % 65536)
                               - 32768
                   ELSE CASE WHEN (asset_id // 5) % 10 = 8
                        THEN ((1237 * asset_id + 4099 * i) % 65536)
                             - 32768
                        ELSE (((1237 * asset_id + 4099 * i) % 65536)
                              - 32768) * 65536 END
                   END
              ELSE (7 * asset_id + 13 * i) % 256 END AS val
  FROM vj
)
SELECT asset_id, format,
       CASE WHEN format <> 'wav' THEN w END AS width,
       CASE WHEN format <> 'wav' THEN h END AS height,
       CASE WHEN format = 'wav'
            THEN CAST(8000 + (asset_id % 5) * 1000 AS INT) END AS sample_rate,
       CAST(max(n_values) AS BIGINT) AS n_values,
       CAST(sum(val) AS BIGINT) AS value_sum,
       CAST(min(val) AS BIGINT) AS value_min,
       CAST(max(val) AS BIGINT) AS value_max,
       CAST(sum(val * (i + 1)) AS BIGINT) AS weighted_sum
FROM v
GROUP BY asset_id, format, w, h
""",
)
def q_multimodal_decoded_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    assets = multimodal.encode_assets(
        load_table(spark, sf_dir, "documents"),
        fmts=("bmp", "ppm", "wav", "gif", "tiff"),
    )
    return multimodal.decoded_stats(assets)


#: PNG rung — EXTENDED in round 12 to the alpha family: the corpus
#: round-robins doc_id % 3 over plain 8-bit RGB ("png"), stored-ALPHA
#: images ("pngalpha": color types 6 RGBA / 4 gray+alpha × depths 8/16,
#: Adam7 on id % 5 == 2), and tRNS TRANSPARENCY ("pngtrns": palette
#: alpha table with the implicit-255 tail, gray key, RGB key).  Every
#: payload is REAL PNG bytes (stdlib-zlib deflate, rotating per-row
#: filter types), chunk-walked, CRC-checked, inflated and unfiltered
#: back; decoded vals KEEP the alpha as the trailing channel (the
#: pinned presentation contract — never composited).  The oracle
#: replays the full per-(id, i) sample arithmetic of all three shapes —
#: identical stats prove the decode inverted deflate + filtering +
#: alpha expansion exactly; the weighted checksum breaks on any
#: ordering or alpha-placement slip.
@register(
    "multimodal_png_stats",
    oracle="""
WITH base AS (
  SELECT doc_id AS asset_id,
         CAST(4 + doc_id % 13 AS INT) AS w,
         CAST(4 + doc_id % 11 AS INT) AS h,
         CAST(doc_id % 3 AS INT) AS f,
         CAST((doc_id // 3) % 3 AS INT) AS kind,
         CASE doc_id % 4 WHEN 0 THEN 2 WHEN 1 THEN 4
                         WHEN 2 THEN 16 ELSE 256 END AS nidx
  FROM documents
),
sized AS (
  SELECT *,
         CASE f
           WHEN 0 THEN w * h * 3
           WHEN 1 THEN w * h * (CASE WHEN asset_id % 2 = 0 THEN 4 ELSE 2 END)
           ELSE w * h * (CASE WHEN kind = 1 THEN 2 ELSE 4 END)
         END AS n_values
  FROM base
),
v AS (
  SELECT asset_id, f, w, h, n_values, i,
    CASE
      WHEN f = 0 THEN (7 * asset_id + 13 * i) % 256
      WHEN f = 1 THEN CASE WHEN asset_id % 4 < 2
                           THEN (7 * asset_id + 13 * i) % 256
                           ELSE (1237 * asset_id + 4099 * i) % 65536 END
      WHEN kind = 0 THEN
        CASE i % 4
          WHEN 0 THEN (5 * asset_id
                       + 11 * ((7 * asset_id + 13 * (i // 4)) % nidx)) % 256
          WHEN 1 THEN (asset_id
                       + 7 * ((7 * asset_id + 13 * (i // 4)) % nidx)) % 256
          WHEN 2 THEN (3 * asset_id
                       + 13 * ((7 * asset_id + 13 * (i // 4)) % nidx)) % 256
          ELSE CASE WHEN ((7 * asset_id + 13 * (i // 4)) % nidx)
                         < nidx // 2 + 1
                    THEN (11 * asset_id
                          + 29 * ((7 * asset_id + 13 * (i // 4)) % nidx)) % 256
                    ELSE 255 END
        END
      WHEN kind = 1 THEN
        CASE WHEN i % 2 = 0 THEN (7 * asset_id + 13 * (i // 2)) % 256
             WHEN (7 * asset_id + 13 * (i // 2)) % 256
                  = (7 * asset_id) % 256 THEN 0
             ELSE 255 END
      ELSE
        CASE WHEN i % 4 < 3
             THEN (7 * asset_id + 13 * (3 * (i // 4) + i % 4)) % 256
             WHEN (7 * asset_id + 13 * (3 * (i // 4))) % 256
                  = (7 * asset_id) % 256
              AND (7 * asset_id + 13 * (3 * (i // 4) + 1)) % 256
                  = (7 * asset_id + 13) % 256
              AND (7 * asset_id + 13 * (3 * (i // 4) + 2)) % 256
                  = (7 * asset_id + 26) % 256
             THEN 0 ELSE 255 END
    END AS val
  FROM (SELECT *, unnest(generate_series(0, n_values - 1)) AS i FROM sized)
)
SELECT asset_id,
       CASE f WHEN 0 THEN 'png' WHEN 1 THEN 'pngalpha'
              ELSE 'pngtrns' END AS format,
       w AS width, h AS height,
       CAST(NULL AS INT) AS sample_rate,
       CAST(max(n_values) AS BIGINT) AS n_values,
       CAST(sum(val) AS BIGINT) AS value_sum,
       CAST(min(val) AS BIGINT) AS value_min,
       CAST(max(val) AS BIGINT) AS value_max,
       CAST(sum(val * (i + 1)) AS BIGINT) AS weighted_sum
FROM v
GROUP BY asset_id, f, w, h
""",
)
def q_multimodal_png_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """encode as PNG / alpha-PNG / tRNS-PNG (doc_id % 3 round-robin) →
    real inflate+unfilter+alpha decode → per-asset stats."""
    assets = multimodal.encode_assets(
        load_table(spark, sf_dir, "documents"),
        fmts=("png", "pngalpha", "pngtrns"),
    )
    return multimodal.decoded_stats(assets)


#: JPEG rung (operators/jpeg.py): every document encoded as a REAL colour
#: baseline JPEG (SOF0, 3-component 4:4:4, canonical Huffman DHT, unit
#: DQT), then decoded by the dependency-free entropy decoder — marker
#: walk, Huffman + 0xFF00 unstuffing, DC diff coding, zigzag, dequant,
#: IDCT, JFIF YCbCr→RGB.  The corpus images are constant per 8×8 block,
#: so the round trip is EXACT (DC-only DCT, unit quant) and the oracle
#: replays every decoded RGB value from (asset_id, block) arithmetic:
#: the same BT.601 constants, the same left-to-right double evaluation
#: order, and floor(x+0.5) rounding on both sides.  The AC run/ZRL/EOB
#: paths the DC-only corpus can't reach are pinned bit-exactly by the
#: coefficient-layer round trip in tests/test_multimodal.py.
@register(
    "multimodal_jpeg_stats",
    oracle="""
WITH base AS (
  SELECT doc_id AS asset_id,
         CAST(4 + doc_id % 13 AS INT) AS w,
         CAST(4 + doc_id % 11 AS INT) AS h
  FROM documents
),
px AS (
  SELECT asset_id, w, h, i,
         (i // 3) % w AS x, (i // 3) // w AS y, i % 3 AS chan
  FROM (SELECT *, unnest(generate_series(0, w * h * 3 - 1)) AS i FROM base)
),
ycc AS (
  SELECT asset_id, w, h, i, chan,
         (7 * asset_id + 13 * b) % 256 AS yv,
         (11 * asset_id + 5 * b) % 256 AS cb,
         (3 * asset_id + 17 * b) % 256 AS cr
  FROM (SELECT *, (y // 8) * ((w + 7) // 8) + (x // 8) AS b FROM px)
),
rgb AS (
  SELECT asset_id, w, h, i,
         CAST(CASE chan
           WHEN 0 THEN least(255, greatest(0,
             floor(yv + 1.402 * (cr - 128) + 0.5)))
           WHEN 1 THEN least(255, greatest(0,
             floor(yv - 0.344136 * (cb - 128) - 0.714136 * (cr - 128) + 0.5)))
           ELSE least(255, greatest(0,
             floor(yv + 1.772 * (cb - 128) + 0.5)))
         END AS BIGINT) AS val
  FROM ycc
)
SELECT asset_id, 'jpeg' AS format, w AS width, h AS height,
       CAST(NULL AS INT) AS sample_rate,
       CAST(count(*) AS BIGINT) AS n_values,
       CAST(sum(val) AS BIGINT) AS value_sum,
       CAST(min(val) AS BIGINT) AS value_min,
       CAST(max(val) AS BIGINT) AS value_max,
       CAST(sum(val * (i + 1)) AS BIGINT) AS weighted_sum
FROM rgb
GROUP BY asset_id, w, h
""",
)
def q_multimodal_jpeg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """encode-as-JPEG → real Huffman+IDCT decode → per-asset stats."""
    assets = multimodal.encode_assets(
        load_table(spark, sf_dir, "documents"), fmts=("jpeg",)
    )
    return multimodal.decoded_stats(assets)


#: 4:2:0 rung — the dominant real-world JPEG shape: 2×2-subsampled chroma,
#: four Y blocks + one Cb + one Cr per 16×16 MCU, interleaved scan, padded
#: edge blocks on partial MCUs, nearest-neighbor chroma upsampling.  The
#: corpus uses LARGER dims than the 4:4:4 rung (8..36 × 8..30) so multi-MCU
#: interleave is the norm.  Oracle replay: pixel (x,y) reads Y from the
#: MCU-padded 2·mcux-wide block grid and chroma from the mcux-wide chroma
#: grid (= 16×16 luma pixels each) — a decoder that walks MCUs in the
#: wrong order, forgets edge-block padding, or upsamples off-by-one moves
#: the weighted checksum.  Same exactness argument as the 4:4:4 rung
#: (DC-only blocks, unit quant, floor(x+0.5) both sides).
@register(
    "multimodal_jpeg420_stats",
    oracle="""
WITH base AS (
  SELECT doc_id AS asset_id,
         CAST(8 + doc_id % 29 AS INT) AS w,
         CAST(8 + doc_id % 23 AS INT) AS h
  FROM documents
),
px AS (
  SELECT asset_id, w, h, (w + 15) // 16 AS mcux, i,
         (i // 3) % w AS x, (i // 3) // w AS y, i % 3 AS chan
  FROM (SELECT *, unnest(generate_series(0, w * h * 3 - 1)) AS i FROM base)
),
ycc AS (
  SELECT asset_id, w, h, i, chan,
         (7 * asset_id + 13 * yb) % 256 AS yv,
         (11 * asset_id + 5 * cbb) % 256 AS cb,
         (3 * asset_id + 17 * cbb) % 256 AS cr
  FROM (SELECT *,
               (y // 8) * (2 * mcux) + (x // 8) AS yb,
               (y // 16) * mcux + (x // 16) AS cbb
        FROM px)
),
rgb AS (
  SELECT asset_id, w, h, i,
         CAST(CASE chan
           WHEN 0 THEN least(255, greatest(0,
             floor(yv + 1.402 * (cr - 128) + 0.5)))
           WHEN 1 THEN least(255, greatest(0,
             floor(yv - 0.344136 * (cb - 128) - 0.714136 * (cr - 128) + 0.5)))
           ELSE least(255, greatest(0,
             floor(yv + 1.772 * (cb - 128) + 0.5)))
         END AS BIGINT) AS val
  FROM ycc
)
SELECT asset_id, 'jpeg420' AS format, w AS width, h AS height,
       CAST(NULL AS INT) AS sample_rate,
       CAST(count(*) AS BIGINT) AS n_values,
       CAST(sum(val) AS BIGINT) AS value_sum,
       CAST(min(val) AS BIGINT) AS value_min,
       CAST(max(val) AS BIGINT) AS value_max,
       CAST(sum(val * (i + 1)) AS BIGINT) AS weighted_sum
FROM rgb
GROUP BY asset_id, w, h
""",
)
def q_multimodal_jpeg420_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """encode as 4:2:0 JPEG → real subsampled decode → per-asset stats."""
    assets = multimodal.encode_assets(
        load_table(spark, sf_dir, "documents"), fmts=("jpeg420",)
    )
    return multimodal.decoded_stats(assets)


#: 4:2:2 rung — the broadcast/video-frame JPEG shape (2×1-subsampled
#: chroma: two Y blocks + one Cb + one Cr per 16×8 MCU) COMBINED with a
#: declared restart interval (DRI=2 MCUs → several RSTn markers per
#: asset): every decode must resync the entropy reader (byte-align, eat
#: the marker, reset DC predictors) repeatedly inside an interleaved
#: subsampled scan — the exact combination real camera/video JPEGs use
#: and the one the 4:4:4/4:2:0 rungs never exercise together.  Oracle
#: replay: pixel (x,y) reads Y from the MCU-padded 2·mcux-wide block grid
#: and chroma from the mcux-wide chroma grid (16×8 luma pixels each —
#: horizontal-only upsampling).  Same exactness argument as the other
#: rungs (DC-only blocks, unit quant, floor(x+0.5) both sides); a decoder
#: that mis-handles the restart cadence desyncs Huffman decode and cannot
#: reproduce a single downstream value.
@register(
    "multimodal_jpeg422_stats",
    oracle="""
WITH base AS (
  SELECT doc_id AS asset_id,
         CAST(8 + doc_id % 37 AS INT) AS w,
         CAST(8 + doc_id % 19 AS INT) AS h
  FROM documents
),
px AS (
  SELECT asset_id, w, h, (w + 15) // 16 AS mcux, i,
         (i // 3) % w AS x, (i // 3) // w AS y, i % 3 AS chan
  FROM (SELECT *, unnest(generate_series(0, w * h * 3 - 1)) AS i FROM base)
),
ycc AS (
  SELECT asset_id, w, h, i, chan,
         (7 * asset_id + 13 * yb) % 256 AS yv,
         (11 * asset_id + 5 * cbb) % 256 AS cb,
         (3 * asset_id + 17 * cbb) % 256 AS cr
  FROM (SELECT *,
               (y // 8) * (2 * mcux) + (x // 8) AS yb,
               (y // 8) * mcux + (x // 16) AS cbb
        FROM px)
),
rgb AS (
  SELECT asset_id, w, h, i,
         CAST(CASE chan
           WHEN 0 THEN least(255, greatest(0,
             floor(yv + 1.402 * (cr - 128) + 0.5)))
           WHEN 1 THEN least(255, greatest(0,
             floor(yv - 0.344136 * (cb - 128) - 0.714136 * (cr - 128) + 0.5)))
           ELSE least(255, greatest(0,
             floor(yv + 1.772 * (cb - 128) + 0.5)))
         END AS BIGINT) AS val
  FROM ycc
)
SELECT asset_id, 'jpeg422' AS format, w AS width, h AS height,
       CAST(NULL AS INT) AS sample_rate,
       CAST(count(*) AS BIGINT) AS n_values,
       CAST(sum(val) AS BIGINT) AS value_sum,
       CAST(min(val) AS BIGINT) AS value_min,
       CAST(max(val) AS BIGINT) AS value_max,
       CAST(sum(val * (i + 1)) AS BIGINT) AS weighted_sum
FROM rgb
GROUP BY asset_id, w, h
""",
)
def q_multimodal_jpeg422_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """encode as 4:2:2 JPEG with restart markers → real subsampled decode
    with in-scan RSTn resync → per-asset stats."""
    assets = multimodal.encode_assets(
        load_table(spark, sf_dir, "documents"), fmts=("jpeg422",)
    )
    return multimodal.decoded_stats(assets)


#: 4:1:1 rung — the DV / consumer-camcorder JPEG shape and the WIDEST
#: per-MCU interleave baseline JPEG allows (four Y blocks + one Cb + one
#: Cr per 32×8 MCU, hmax = 4 → 4× horizontal-only chroma upsampling),
#: again COMBINED with a DRI=2 restart cadence.  Beyond 4:2:0/4:2:2 this
#: exercises the decoder's padded-edge geometry hardest: at these dims a
#: partial right-edge MCU pads up to THREE whole Y block columns, and a
#: mis-walked pad (the exact bug class T.81 A.2.2 fixes guard against)
#: shifts every subsequent block.  Oracle replay: pixel (x,y) reads Y
#: from the MCU-padded 4·mcux-wide block grid and chroma from the
#: mcux-wide chroma grid (32×8 luma pixels each).  Same exactness
#: argument as the other rungs (DC-only blocks, unit quant,
#: floor(x+0.5) both sides).
@register(
    "multimodal_jpeg411_stats",
    oracle="""
WITH base AS (
  SELECT doc_id AS asset_id,
         CAST(8 + doc_id % 61 AS INT) AS w,
         CAST(8 + doc_id % 19 AS INT) AS h
  FROM documents
),
px AS (
  SELECT asset_id, w, h, (w + 31) // 32 AS mcux, i,
         (i // 3) % w AS x, (i // 3) // w AS y, i % 3 AS chan
  FROM (SELECT *, unnest(generate_series(0, w * h * 3 - 1)) AS i FROM base)
),
ycc AS (
  SELECT asset_id, w, h, i, chan,
         (7 * asset_id + 13 * yb) % 256 AS yv,
         (11 * asset_id + 5 * cbb) % 256 AS cb,
         (3 * asset_id + 17 * cbb) % 256 AS cr
  FROM (SELECT *,
               (y // 8) * (4 * mcux) + (x // 8) AS yb,
               (y // 8) * mcux + (x // 32) AS cbb
        FROM px)
),
rgb AS (
  SELECT asset_id, w, h, i,
         CAST(CASE chan
           WHEN 0 THEN least(255, greatest(0,
             floor(yv + 1.402 * (cr - 128) + 0.5)))
           WHEN 1 THEN least(255, greatest(0,
             floor(yv - 0.344136 * (cb - 128) - 0.714136 * (cr - 128) + 0.5)))
           ELSE least(255, greatest(0,
             floor(yv + 1.772 * (cb - 128) + 0.5)))
         END AS BIGINT) AS val
  FROM ycc
)
SELECT asset_id, 'jpeg411' AS format, w AS width, h AS height,
       CAST(NULL AS INT) AS sample_rate,
       CAST(count(*) AS BIGINT) AS n_values,
       CAST(sum(val) AS BIGINT) AS value_sum,
       CAST(min(val) AS BIGINT) AS value_min,
       CAST(max(val) AS BIGINT) AS value_max,
       CAST(sum(val * (i + 1)) AS BIGINT) AS weighted_sum
FROM rgb
GROUP BY asset_id, w, h
""",
)
def q_multimodal_jpeg411_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """encode as 4:1:1 JPEG with restart markers → real decode through the
    widest baseline MCU interleave (4 Y + Cb + Cr) → per-asset stats."""
    assets = multimodal.encode_assets(
        load_table(spark, sf_dir, "documents"), fmts=("jpeg411",)
    )
    return multimodal.decoded_stats(assets)


#: PROGRESSIVE (SOF2) rung — the dominant real-web-crawl JPEG shape the
#: baseline rungs can't parse: the image arrives as an 11-scan
#: progression (interleaved first DC scan at point transform Al=2, two
#: DC refinement bitplanes, then per-component spectral-band AC scans at
#: Al=1 and their refinement passes — T.81 Annex G), 4:2:0-subsampled so
#: non-interleaved AC scans walk each component's UNPADDED block grid
#: while the interleaved DC scan walks padded MCUs (A.2.2's exact trap).
#: The corpus DC quantizer is 8 with the stored DC value v−128, so the
#: successive-approximation refinement bits are live data, and the
#: all-zero AC bands force the progressive-only EOBn cross-block
#: end-of-band runs on every asset.  Decoded pixels are identical to a
#: baseline transmission of the same coefficients, so the oracle replays
#: the 4:2:0 pixel arithmetic with this rung's dims (8+id%41 × 8+id%17).
#: Same exactness argument as the other rungs (DC-only reconstruction,
#: floor(x+0.5) both sides); a decoder that drops one refinement bit,
#: mis-runs an EOB run, or walks an AC scan over the padded grid moves
#: the weighted checksum.  Ref: operators/jpeg.py Annex-G section.
@register(
    "multimodal_jpeg_progressive_stats",
    oracle="""
WITH base AS (
  SELECT doc_id AS asset_id,
         CAST(8 + doc_id % 41 AS INT) AS w,
         CAST(8 + doc_id % 17 AS INT) AS h
  FROM documents
),
px AS (
  SELECT asset_id, w, h, (w + 15) // 16 AS mcux, i,
         (i // 3) % w AS x, (i // 3) // w AS y, i % 3 AS chan
  FROM (SELECT *, unnest(generate_series(0, w * h * 3 - 1)) AS i FROM base)
),
ycc AS (
  SELECT asset_id, w, h, i, chan,
         (7 * asset_id + 13 * yb) % 256 AS yv,
         (11 * asset_id + 5 * cbb) % 256 AS cb,
         (3 * asset_id + 17 * cbb) % 256 AS cr
  FROM (SELECT *,
               (y // 8) * (2 * mcux) + (x // 8) AS yb,
               (y // 16) * mcux + (x // 16) AS cbb
        FROM px)
),
rgb AS (
  SELECT asset_id, w, h, i,
         CAST(CASE chan
           WHEN 0 THEN least(255, greatest(0,
             floor(yv + 1.402 * (cr - 128) + 0.5)))
           WHEN 1 THEN least(255, greatest(0,
             floor(yv - 0.344136 * (cb - 128) - 0.714136 * (cr - 128) + 0.5)))
           ELSE least(255, greatest(0,
             floor(yv + 1.772 * (cb - 128) + 0.5)))
         END AS BIGINT) AS val
  FROM ycc
)
SELECT asset_id, 'jpegprog' AS format, w AS width, h AS height,
       CAST(NULL AS INT) AS sample_rate,
       CAST(count(*) AS BIGINT) AS n_values,
       CAST(sum(val) AS BIGINT) AS value_sum,
       CAST(min(val) AS BIGINT) AS value_min,
       CAST(max(val) AS BIGINT) AS value_max,
       CAST(sum(val * (i + 1)) AS BIGINT) AS weighted_sum
FROM rgb
GROUP BY asset_id, w, h
""",
)
def q_multimodal_jpeg_progressive_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """encode as progressive (SOF2) 4:2:0 JPEG → real multi-scan
    successive-approximation decode → per-asset stats."""
    assets = multimodal.encode_assets(
        load_table(spark, sf_dir, "documents"), fmts=("jpegprog",)
    )
    return multimodal.decoded_stats(assets)


#: PALETTE (indexed) PNG rung — the other dominant real-web PNG shape the
#: RGB rung can't parse: color type 3 with bit depth cycling 1/2/4/8 by
#: asset, so every sub-byte MSB-first bit-unpacking path, the whole-byte
#: row padding, and all five PNG filters AT THE PACKED-BYTE GEOMETRY
#: (bpp=1: filter neighbors are bytes, not pixels) are exercised across
#: the corpus; the PLTE lookup resolves indices to RGB.  Pixel model
#: replayed arithmetically: pixel i has index (7·id+13·i) mod 2^depth and
#: palette entry j = ((5·id+11·j)%256, (id+7·j)%256, (3·id+13·j)%256).
#: A decoder that unpacks LSB-first, counts padding bits as pixels, or
#: filters at pixel (not byte) offsets moves the weighted checksum.
@register(
    "multimodal_png_palette_stats",
    oracle="""
WITH base AS (
  SELECT doc_id AS asset_id,
         CAST(4 + doc_id % 13 AS INT) AS w,
         CAST(4 + doc_id % 11 AS INT) AS h,
         CASE doc_id % 4 WHEN 0 THEN 2 WHEN 1 THEN 4
                         WHEN 2 THEN 16 ELSE 256 END AS nidx
  FROM documents
),
px AS (
  SELECT asset_id, w, h, i,
         (7 * asset_id + 13 * (i // 3)) % nidx AS idx, i % 3 AS chan
  FROM (SELECT *, unnest(generate_series(0, w * h * 3 - 1)) AS i FROM base)
),
vals AS (
  SELECT asset_id, w, h, i,
         CAST(CASE chan
           WHEN 0 THEN (5 * asset_id + 11 * idx) % 256
           WHEN 1 THEN (asset_id + 7 * idx) % 256
           ELSE (3 * asset_id + 13 * idx) % 256
         END AS BIGINT) AS val
  FROM px
)
SELECT asset_id, 'pngpal' AS format, w AS width, h AS height,
       CAST(NULL AS INT) AS sample_rate,
       CAST(count(*) AS BIGINT) AS n_values,
       CAST(sum(val) AS BIGINT) AS value_sum,
       CAST(min(val) AS BIGINT) AS value_min,
       CAST(max(val) AS BIGINT) AS value_max,
       CAST(sum(val * (i + 1)) AS BIGINT) AS weighted_sum
FROM vals
GROUP BY asset_id, w, h
""",
)
def q_multimodal_png_palette_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """encode as palette PNG (bit depths 1/2/4/8) → real indexed decode →
    per-asset stats."""
    assets = multimodal.encode_assets(
        load_table(spark, sf_dir, "documents"), fmts=("pngpal",)
    )
    return multimodal.decoded_stats(assets)


# --- rolling-hash fingerprints (Manber '94 / Karp–Rabin) --------------------

def _horner_sql(k: int, base: int, mod: int, s: str = "n", pos: str = "pos") -> str:
    """Unrolled Karp–Rabin polynomial, identical to the Spark Horner chain
    in text.kgram_fingerprints (mod applied every step, ascii per char)."""
    h = "0"
    for t in range(k):
        h = f"(({h}) * {base} + ascii(substring({s}, {pos} + {t}, 1))) % {mod}"
    return h


#: normalized text + every k-gram start position (k=8)
KGRAM_POS_CTE = r"""
norm AS (
  SELECT doc_id,
         trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS n
  FROM documents
),
pos AS (
  SELECT doc_id, n, CAST(unnest(range(1, length(n) - 8 + 2)) AS INT) AS pos
  FROM norm WHERE length(n) >= 8
)
"""


@register(
    "rolling_fingerprints",
    oracle=f"""
WITH {KGRAM_POS_CTE.lstrip()}
SELECT doc_id, pos, fp FROM (
  SELECT doc_id, pos, {_horner_sql(8, 257, 1_000_003)} AS fp FROM pos
) h WHERE fp % 8 = 0
""",
)
def q_rolling_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.kgram_fingerprints(
        load_table(spark, sf_dir, "documents"), k=8, p=8
    )


@register(
    "fingerprint_match_pairs",
    oracle=f"""
WITH {KGRAM_POS_CTE.lstrip()},
h AS (
  SELECT doc_id, pos, {_horner_sql(8, 257, 1_000_003)} AS fp FROM pos
),
sel AS (SELECT DISTINCT doc_id, fp FROM h WHERE fp % 8 = 0),
dfq AS (SELECT fp, count(*) AS df FROM sel GROUP BY fp),
cold AS (
  SELECT s.doc_id, s.fp FROM sel s JOIN dfq USING (fp) WHERE dfq.df <= 100
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_fps
  FROM cold a JOIN cold b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, shared_fps FROM pairs
ORDER BY shared_fps DESC, doc_a ASC, doc_b ASC LIMIT 50
""",
)
def q_fingerprint_match_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.fingerprint_match_pairs(
        load_table(spark, sf_dir, "documents"), k=8, p=8, doc_cap=100, top=50
    )


# --- IVF multi-probe (recall dial) ------------------------------------------

_NPROBE = 2


@register(
    "ann_ivf_multiprobe_topk",
    oracle=f"""
WITH cent AS (
  SELECT vec_id AS cent_id, embedding AS cent_emb FROM embeddings
  WHERE vec_id < {_NCELLS_SEARCH_SQL}
),
vc AS (
  SELECT v.vec_id, c.cent_id,
         CAST(unnest(v.embedding) AS DOUBLE) AS vv,
         CAST(unnest(c.cent_emb) AS DOUBLE) AS cv
  FROM embeddings v, cent c
),
vc_scored AS (
  SELECT vec_id, cent_id,
         round(sum(vv * cv) / (sqrt(sum(vv * vv)) * sqrt(sum(cv * cv))), 6)
           AS cos
  FROM vc GROUP BY vec_id, cent_id
),
vc_ranked AS (
  SELECT vec_id, cent_id, row_number() OVER (
    PARTITION BY vec_id ORDER BY cos DESC, cent_id ASC
  ) AS rn
  FROM vc_scored
),
assign AS (SELECT vec_id, cent_id AS cell FROM vc_ranked WHERE rn = 1),
probes AS (
  SELECT r.vec_id AS query_id, e.embedding AS q_emb, r.cent_id AS q_cell
  FROM vc_ranked r JOIN embeddings e ON e.vec_id = r.vec_id
  WHERE r.rn <= {_NPROBE}
    AND r.vec_id IN ({", ".join(map(str, _QUERY_IDS))})
),
pairs AS (
  SELECT p.query_id, p.q_emb, a.vec_id AS cand_id, e.embedding AS c_emb
  FROM probes p
  JOIN assign a ON a.cell = p.q_cell AND a.vec_id != p.query_id
  JOIN embeddings e ON e.vec_id = a.vec_id
),
{_COS_PAIRS_SQL.strip()},
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC, cand_id ASC
  ) AS rank
  FROM scored
)
SELECT query_id, cand_id, cos_sim, rank FROM ranked WHERE rank <= 5
""",
)
def q_ann_ivf_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF rung, ncells=None → adaptive_ncells_search."""
    return similarity.ivf_multiprobe_topk(
        load_table(spark, sf_dir, "embeddings"), _QUERY_IDS, 5, None, _NPROBE
    )


# --- range join: ticks inside mover windows ---------------------------------

@register(
    "mover_window_ticks",
    oracle=f"""
{BARS_CTE.strip()},
changed AS (
  SELECT symbol, bucket_start,
         (close - open) / nullif(open, 0) AS chg
  FROM bars
),
top5 AS (
  SELECT symbol, bucket_start FROM changed
  ORDER BY abs(chg) DESC NULLS LAST, symbol ASC, bucket_start ASC
  LIMIT 5
),
win AS (
  SELECT symbol, bucket_start AS win_start,
         bucket_start + INTERVAL 30 MINUTE AS win_end
  FROM top5
)
SELECT w.symbol, w.win_start,
       count(*) AS n_ticks,
       round(avg(t.price), 4) AS avg_price,
       min(t.price) AS min_price,
       max(t.price) AS max_price
FROM win w
JOIN ticks t
  ON t.symbol = w.symbol
 AND t.event_time >= w.win_start
 AND t.event_time < w.win_end
GROUP BY w.symbol, w.win_start
""",
)
def q_mover_window_ticks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (operators/rangejoin.py): the 5 sharpest minute-bar moves
    become 30-minute interest windows; every tick inside a window is
    matched by a bucket-expansion equi-join (NO per-key cartesian — the
    oracle's non-equi JOIN is the semantics being replayed, not the plan)
    and aggregated per window."""
    from stockpulse_batch_realtime_etl_spark.operators.ohlcv import ohlcv_bars
    from stockpulse_batch_realtime_etl_spark.operators.rangejoin import range_join
    from stockpulse_batch_realtime_etl_spark.queries_registry import (
        ticks_from_events,
    )

    ticks = ticks_from_events(spark, sf_dir)
    bars = ohlcv_bars(ticks)
    chg = (F.col("close") - F.col("open")) / F.nullif(F.col("open"), F.lit(0))
    win = (
        bars.withColumn("chg", chg)
        .orderBy(
            F.abs(F.col("chg")).desc_nulls_last(),
            F.col("symbol").asc(),
            F.col("bucket_start").asc(),
        )
        .limit(5)
        .select(
            "symbol",
            F.col("bucket_start").alias("win_start"),
            (F.col("bucket_start") + F.expr("INTERVAL 30 MINUTES")).alias(
                "win_end"
            ),
        )
    )
    joined = range_join(
        ticks.select("symbol", "event_time", "price"),
        win,
        key="symbol",
        time_col="event_time",
        start_col="win_start",
        end_col="win_end",
        bucket_seconds=1800,
    )
    return joined.groupBy("symbol", "win_start").agg(
        F.count(F.lit(1)).alias("n_ticks"),
        F.round(F.avg("price"), 4).alias("avg_price"),
        F.min("price").alias("min_price"),
        F.max("price").alias("max_price"),
    )


# --- contamination / sampling / LM scoring ----------------------------------

_SPLIT_SQL = """
splits AS (
  SELECT doc_id,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
                THEN 'train'
              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'f3'
                THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
"""


@register(
    "contamination_overlap",
    oracle=f"""
WITH {NORM_TOKS_CTE.lstrip()},
grams AS (
  SELECT DISTINCT a.doc_id,
         a.token || ' ' || b.token || ' ' || c.token AS gram
  FROM toks a
  JOIN toks b ON b.doc_id = a.doc_id AND b.i = a.i + 1
  JOIN toks c ON c.doc_id = a.doc_id AND c.i = a.i + 2
),
{_SPLIT_SQL.strip()},
eval_grams AS (
  SELECT DISTINCT gram
  FROM grams JOIN splits USING (doc_id)
  WHERE split = 'test'
)
SELECT g.doc_id, d.lang, count(*) AS overlap_grams
FROM grams g
JOIN splits s USING (doc_id)
JOIN documents d USING (doc_id)
JOIN eval_grams e ON g.gram = e.gram
WHERE s.split = 'train'
GROUP BY g.doc_id, d.lang
""",
)
def q_contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.contamination_overlap(
        load_table(spark, sf_dir, "documents"), n=3, train_pct=90, val_pct=5
    )


@register(
    "stratified_sample",
    oracle="""
SELECT doc_id, lang, source, sample_rank
FROM (
  SELECT doc_id, lang, source,
         row_number() OVER (
           PARTITION BY lang, source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS sample_rank
  FROM documents
) r WHERE sample_rank <= 20
""",
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.stratified_sample(load_table(spark, sf_dir, "documents"), 20)


@register(
    "bigram_lm_scores",
    oracle=f"""
WITH {NORM_TOKS_CTE.lstrip()},
bi AS (
  SELECT a.doc_id, a.token AS w1, a.token || ' ' || b.token AS bigram
  FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.i = a.i + 1
),
c2 AS (SELECT bigram, count(*) AS n2 FROM bi GROUP BY bigram),
c1 AS (SELECT w1, count(*) AS n1 FROM bi GROUP BY w1)
SELECT bi.doc_id, d.lang,
       count(*) AS n_bigrams,
       round(CAST(sum(CAST(round(ln(c2.n2 / CAST(c1.n1 AS DOUBLE)), 8)
                           AS DECIMAL(20,8))) AS DOUBLE) / count(*),
             6) AS avg_logprob
FROM bi
JOIN c2 USING (bigram)
JOIN c1 USING (w1)
JOIN documents d USING (doc_id)
GROUP BY bi.doc_id, d.lang
""",
)
def q_bigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.bigram_lm_scores(load_table(spark, sf_dir, "documents"))


@register(
    "mixture_sample",
    oracle="""
WITH wts(source, w) AS (
  VALUES ('src0', CAST(0.5 AS DOUBLE)),
         ('src1', CAST(0.3 AS DOUBLE)),
         ('src2', CAST(0.2 AS DOUBLE))
),
counts AS (
  -- weight list LEFT-joined to the data counts: an absent weighted
  -- source yields n_s = 0 and T = 0, matching the Spark side
  SELECT w.source, w.w, coalesce(c.n_s, 0) AS n_s
  FROM wts w LEFT JOIN (
    SELECT source, count(*) AS n_s FROM documents
    WHERE source IN ('src0', 'src1', 'src2')
    GROUP BY source
  ) c USING (source)
),
ks AS (
  SELECT source,
         CAST(floor(min(n_s / w) OVER () * w) AS BIGINT) AS k_s
  FROM counts
),
ranked AS (
  SELECT doc_id, lang, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS sample_rank
  FROM documents
  WHERE source IN ('src0', 'src1', 'src2')
)
SELECT r.doc_id, r.lang, r.source, r.sample_rank
FROM ranked r JOIN ks USING (source)
WHERE r.sample_rank <= ks.k_s
""",
)
def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.mixture_sample(
        load_table(spark, sf_dir, "documents"),
        {"src0": 0.5, "src1": 0.3, "src2": 0.2},
    )


@register(
    "repetition_stats",
    oracle=f"""
WITH {NORM_TOKS_CTE.lstrip()},
base AS (
  SELECT doc_id,
         round(CAST(1.0 AS DOUBLE)
               - len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE),
               6) AS dup_token_ratio
  FROM tl
),
bi AS (
  SELECT a.doc_id, a.token || ' ' || b.token AS bigram
  FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.i = a.i + 1
),
per_bigram AS (
  SELECT doc_id, bigram, count(*) AS c FROM bi GROUP BY doc_id, bigram
),
per_doc AS (
  SELECT doc_id,
         max(c) AS top_cnt,
         sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_occ,
         sum(c) AS n_bi
  FROM per_bigram GROUP BY doc_id
)
SELECT d.doc_id, d.lang, base.dup_token_ratio,
       round(per_doc.top_cnt / CAST(per_doc.n_bi AS DOUBLE), 6)
         AS top_bigram_frac,
       round(per_doc.dup_occ / CAST(per_doc.n_bi AS DOUBLE), 6)
         AS dup_bigram_frac
FROM documents d
JOIN base USING (doc_id)
LEFT JOIN per_doc USING (doc_id)
""",
)
def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.repetition_stats(load_table(spark, sf_dir, "documents"))


@register(
    "temperature_mixture_sample",
    oracle="""
WITH counts AS (
  SELECT source, count(*) AS n_s FROM documents GROUP BY source
),
scaled AS (
  SELECT source, n_s,
         CAST(round(sqrt(n_s), 6) AS DECIMAL(38,6)) AS s_s
  FROM counts
),
ks0 AS (
  -- DECIMAL sum over sources (order-independent), IEEE double mult/div of
  -- identical inputs — bit-reproducible against the Spark twin
  SELECT source, n_s,
         200 * CAST(s_s AS DOUBLE) / CAST(sum(s_s) OVER () AS DOUBLE) AS raw
  FROM scaled
),
ks1 AS (
  SELECT source, n_s, CAST(floor(raw) AS BIGINT) AS q,
         raw - floor(raw) AS frac
  FROM ks0
),
ks AS (
  -- largest-remainder redistribution: +1 to the rem sources with the
  -- largest fractional part (ties by source asc), capped at n_s
  SELECT source,
         least(n_s,
               q + CASE WHEN row_number() OVER (ORDER BY frac DESC, source ASC)
                        <= 200 - sum(q) OVER () THEN 1 ELSE 0 END
         ) AS k_s
  FROM ks1
),
ranked AS (
  SELECT doc_id, lang, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS sample_rank
  FROM documents
)
SELECT r.doc_id, r.lang, r.source, r.sample_rank
FROM ranked r JOIN ks USING (source)
WHERE r.sample_rank <= ks.k_s
""",
)
def q_temperature_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature (α=0.5) source resampling — the multilingual rebalance
    rule; deterministic md5-order draw, quota ∝ sqrt(n_s)."""
    return text.temperature_mixture(
        load_table(spark, sf_dir, "documents"), total=200, alpha=0.5
    )


@register(
    "packed_sequences",
    oracle=r"""
WITH toks AS (
  SELECT doc_id, source,
         len(list_filter(
               string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                            ' '),
               x -> x <> '')) AS n_tokens,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
),
sh AS (
  SELECT *,
         ((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
          + strpos('0123456789abcdef', substr(h, 2, 1)) - 1) % 8 AS shard
  FROM toks
),
c AS (
  SELECT *,
         CAST(sum(n_tokens) OVER (
           PARTITION BY shard ORDER BY h, doc_id
           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM sh
)
SELECT doc_id, source, shard, n_tokens,
       (cum - n_tokens) // 512 AS seq_index,
       (cum - n_tokens) % 512 AS offset,
       CASE WHEN n_tokens > 0
            THEN (cum - 1) // 512 > (cum - n_tokens) // 512
            ELSE false END AS spans_boundary
FROM c
""",
)
def q_packed_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing into 512-token training sequences,
    md5-sharded 8 ways — deterministic doc → (shard, seq, offset) layout."""
    return text.pack_sequences(
        load_table(spark, sf_dir, "documents"), ctx_tokens=512, n_shards=8
    )


@register(
    "curation_funnel",
    oracle=rf"""
WITH {NORM_TOKS_CTE.lstrip()},
grams AS (
  SELECT DISTINCT a.doc_id,
         a.token || ' ' || b.token || ' ' || c.token AS gram
  FROM toks a
  JOIN toks b ON b.doc_id = a.doc_id AND b.i = a.i + 1
  JOIN toks c ON c.doc_id = a.doc_id AND c.i = a.i + 2
),
{_SPLIT_SQL.strip()},
eval_grams AS (
  SELECT DISTINCT gram
  FROM grams JOIN splits USING (doc_id)
  WHERE split = 'test'
),
contam AS (
  SELECT g.doc_id
  FROM grams g
  JOIN splits s USING (doc_id)
  JOIN eval_grams e ON g.gram = e.gram
  WHERE s.split = 'train'
  GROUP BY g.doc_id
  HAVING count(*) >= 4
),
canon AS (
  SELECT min(doc_id) AS doc_id
  FROM (
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
    FROM documents
  ) GROUP BY fp
),
qstats AS (
  SELECT
    doc_id,
    len(string_split_regex(trim(text), '\s+')) AS token_count,
    len(list_distinct(string_split_regex(trim(text), '\s+'))) AS distinct_tokens,
    round(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
          / nullif(length(text), 0), 4) AS alpha_ratio,
    round(len(list_filter(string_split_regex(trim(text), '\s+'),
                          t -> list_contains({_STOP_SQL}, lower(t))))
          / nullif(len(string_split_regex(trim(text), '\s+')), 0), 4) AS stopword_ratio
  FROM documents
),
quality AS (
  SELECT doc_id,
    round(
        CAST(0.25 AS DOUBLE) * least(greatest(token_count / CAST(50.0 AS DOUBLE), CAST(0.0 AS DOUBLE)), CAST(1.0 AS DOUBLE))
      + CAST(0.25 AS DOUBLE) * least(greatest(alpha_ratio / CAST(0.8 AS DOUBLE), CAST(0.0 AS DOUBLE)), CAST(1.0 AS DOUBLE))
      + CAST(0.25 AS DOUBLE) * least(greatest(stopword_ratio / CAST(0.1 AS DOUBLE), CAST(0.0 AS DOUBLE)), CAST(1.0 AS DOUBLE))
      + CAST(0.25 AS DOUBLE) * least(greatest(distinct_tokens / nullif(token_count, 0) / CAST(0.5 AS DOUBLE), CAST(0.0 AS DOUBLE)), CAST(1.0 AS DOUBLE))
    , 6) AS quality
  FROM qstats
),
rep AS (
  SELECT doc_id,
         round(CAST(1.0 AS DOUBLE)
               - len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE),
               6) AS dup_token_ratio
  FROM tl
),
flags AS (
  SELECT
    (c.doc_id IS NOT NULL) AS s1,
    (c.doc_id IS NOT NULL)
      AND coalesce(q.quality >= 0.8, false) AS s2,
    (c.doc_id IS NOT NULL)
      AND coalesce(q.quality >= 0.8, false)
      AND coalesce(r.dup_token_ratio <= 0.6, false) AS s3,
    (c.doc_id IS NOT NULL)
      AND coalesce(q.quality >= 0.8, false)
      AND coalesce(r.dup_token_ratio <= 0.6, false)
      AND ct.doc_id IS NULL AS s4
  FROM documents d
  LEFT JOIN canon c ON c.doc_id = d.doc_id
  LEFT JOIN quality q ON q.doc_id = d.doc_id
  LEFT JOIN rep r ON r.doc_id = d.doc_id
  LEFT JOIN contam ct ON ct.doc_id = d.doc_id
),
counts AS (
  SELECT count(*) AS n0,
         count(CASE WHEN s1 THEN 1 END) AS n1,
         count(CASE WHEN s2 THEN 1 END) AS n2,
         count(CASE WHEN s3 THEN 1 END) AS n3,
         count(CASE WHEN s4 THEN 1 END) AS n4
  FROM flags
)
SELECT 0 AS stage_idx, 'raw' AS stage, n0 AS n_docs FROM counts
UNION ALL SELECT 1, 'exact_dedup', n1 FROM counts
UNION ALL SELECT 2, 'quality', n2 FROM counts
UNION ALL SELECT 3, 'repetition', n3 FROM counts
UNION ALL SELECT 4, 'decontamination', n4 FROM counts
""",
)
def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative per-stage survivor counts of the full curation pipeline
    (dedup -> quality -> repetition -> decontamination), one composed
    query over the first-class stage operators."""
    return text.curation_funnel(
        load_table(spark, sf_dir, "documents"),
        quality_min=0.8,
        dup_token_max=0.6,
        contamination_min_grams=4,
    )


@register(
    "winnowed_fingerprints",
    oracle=f"""
WITH {KGRAM_POS_CTE.lstrip()},
h AS (
  SELECT doc_id, pos, {_horner_sql(8, 257, 1_000_003)} AS fp,
         CAST(length(n) - 8 + 1 AS INT) AS m
  FROM pos
),
e AS (
  SELECT doc_id, pos, fp,
         unnest(generate_series(greatest(least(8, m), pos),
                                least(m, pos + least(8, m) - 1))) AS win_end,
         lpad(CAST(fp AS VARCHAR), 7, '0')
           || lpad(CAST(9999999999 - pos AS VARCHAR), 10, '0') AS ordkey
  FROM h
),
sel AS (
  SELECT doc_id, win_end,
         arg_min(pos, ordkey) AS pos,
         arg_min(fp, ordkey) AS fp
  FROM e GROUP BY doc_id, win_end
)
SELECT DISTINCT doc_id, pos, fp FROM sel
""",
)
def q_winnowed_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (SIGMOD '03) fingerprint selection over the same k-gram
    Karp-Rabin hashes as rolling_fingerprints: rightmost window minima,
    guaranteed to catch any shared substring of length >= k + w - 1."""
    return text.winnowed_fingerprints(
        load_table(spark, sf_dir, "documents"), k=8, w=8
    )


@register(
    "streaming_session_bars",
    oracle=f"""
{RAW_CTE},
ticks AS (
  SELECT p_symbol AS symbol, p_price AS price, p_volume AS volume,
         p_event_time AS event_time
  FROM parsed
  WHERE NOT malformed AND NOT no_symbol
    AND p_price IS NOT NULL AND p_event_time IS NOT NULL
),
ordered AS (
  -- session_window merges at EXACTLY the gap (t2 - t1 <= gap stays one
  -- session) — same convention the batch session_bars oracle pins
  SELECT *,
         CASE WHEN lag(event_time) OVER w IS NULL
                OR event_time - lag(event_time) OVER w > INTERVAL 5 MINUTE
              THEN 1 ELSE 0 END AS brk
  FROM ticks
  WINDOW w AS (PARTITION BY symbol ORDER BY event_time)
),
sess AS (
  SELECT *,
         sum(brk) OVER (PARTITION BY symbol ORDER BY event_time
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM ordered
)
SELECT
  symbol,
  min(event_time) AS session_start,
  round(arg_min(price, event_time), 4) AS open,
  round(max(price), 4)  AS high,
  round(min(price), 4)  AS low,
  round(arg_max(price, event_time), 4) AS close,
  CAST(sum(coalesce(volume, 0)) AS BIGINT) AS volume_sum,
  count(*) AS tick_count
FROM sess
GROUP BY symbol, sid
""",
)
def q_streaming_session_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST5 dynamic-gap flavor: streaming session_window aggregation over
    the decoded wire corpus, bounded complete-mode run — must equal the
    batch sessionization of the same ticks."""
    from stockpulse_batch_realtime_etl_spark.streaming.job import (
        run_session_bars_available_now,
    )

    bars = run_session_bars_available_now(spark, sf_dir, gap="5 minutes")
    return bars.select(
        "symbol",
        "session_start",
        F.round("open", 4).alias("open"),
        F.round("high", 4).alias("high"),
        F.round("low", 4).alias("low"),
        F.round("close", 4).alias("close"),
        F.col("volume_sum").cast("long").alias("volume_sum"),
        F.col("tick_count").cast("long").alias("tick_count"),
    )


@register(
    "packing_stats",
    oracle=r"""
WITH toks AS (
  SELECT doc_id,
         len(list_filter(
               string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                            ' '),
               x -> x <> '')) AS n_tokens,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
),
sh AS (
  SELECT *,
         ((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
          + strpos('0123456789abcdef', substr(h, 2, 1)) - 1) % 8 AS shard
  FROM toks
),
c AS (
  SELECT *,
         CAST(sum(n_tokens) OVER (
           PARTITION BY shard ORDER BY h, doc_id
           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM sh
),
packed AS (
  SELECT doc_id, shard, n_tokens,
         CASE WHEN n_tokens > 0
              THEN (cum - 1) // 512 > (cum - n_tokens) // 512
              ELSE false END AS spans_boundary
  FROM c
)
SELECT shard,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       count(CASE WHEN spans_boundary THEN 1 END) AS boundary_docs,
       (CAST(sum(n_tokens) AS BIGINT) + 511) // 512 AS n_sequences,
       ((CAST(sum(n_tokens) AS BIGINT) + 511) // 512) * 512
         - CAST(sum(n_tokens) AS BIGINT) AS pad_tokens,
       round(CAST(sum(n_tokens) AS BIGINT)
             / CAST(((CAST(sum(n_tokens) AS BIGINT) + 511) // 512) * 512
                    AS DOUBLE), 6) AS utilization
FROM packed
GROUP BY shard
""",
)
def q_packing_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard packing yield (docs, tokens, sequences, boundary docs,
    padding waste) over the 512-token / 8-shard packing layout."""
    return text.packing_stats(
        load_table(spark, sf_dir, "documents"), ctx_tokens=512, n_shards=8
    )


@register(
    "source_token_stats",
    oracle=r"""
WITH tok AS (
  SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS token
  FROM documents
),
tc AS (
  SELECT source, token, count(*) AS c
  FROM tok WHERE token != '' GROUP BY source, token
),
dps AS (SELECT source, count(*) AS doc_count FROM documents GROUP BY source),
ps AS (
  SELECT source,
         CAST(sum(c) AS BIGINT) AS token_count,
         count(*) AS vocab_size,
         arg_max(token, lpad(CAST(c AS VARCHAR), 20, '0') || token) AS top_token,
         arg_max(c,     lpad(CAST(c AS VARCHAR), 20, '0') || token) AS top_c
  FROM tc GROUP BY source
)
SELECT ps.source, dps.doc_count, ps.token_count, ps.vocab_size,
       round(ps.vocab_size / CAST(ps.token_count AS DOUBLE), 6)
         AS type_token_ratio,
       ps.top_token,
       round(ps.top_c / CAST(ps.token_count AS DOUBLE), 6)
         AS top_token_share
FROM ps JOIN dps USING (source)
ORDER BY ps.source
""",
)
def q_source_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token budgets for mixture planning: tokens, vocabulary,
    type-token ratio, and the dominant token's share."""
    return text.source_token_stats(load_table(spark, sf_dir, "documents"))


@register(
    "streaming_running_bars",
    oracle=f"""
{RAW_CTE},
ticks AS (
  SELECT p_symbol AS symbol, p_price AS price, p_volume AS volume,
         p_event_time AS event_time
  FROM parsed
  WHERE NOT malformed AND NOT no_symbol
    AND p_price IS NOT NULL AND p_event_time IS NOT NULL
)
SELECT
  symbol,
  round(arg_min(price, event_time), 4) AS open,
  round(max(price), 4)  AS high,
  round(min(price), 4)  AS low,
  round(arg_max(price, event_time), 4) AS close,
  CAST(sum(coalesce(volume, 0)) AS BIGINT) AS volume_sum,
  count(*) AS tick_count
FROM ticks
GROUP BY symbol
""",
)
def q_streaming_running_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running bar (a window-less streaming aggregate) end-to-end: the
    final per-symbol running OHLCV must equal the batch GROUP BY over the
    decoded wire corpus — the state is exact under any batch split."""
    from stockpulse_batch_realtime_etl_spark.streaming.job import (
        run_running_bars_available_now,
    )

    bars = run_running_bars_available_now(spark, sf_dir)
    return bars.select(
        "symbol",
        F.round("open", 4).alias("open"),
        F.round("high", 4).alias("high"),
        F.round("low", 4).alias("low"),
        F.round("close", 4).alias("close"),
        F.col("volume_sum").cast("long").alias("volume_sum"),
        F.col("tick_count").cast("long").alias("tick_count"),
    )


def _pq_adc_oracle(n_sub: int, kpq: int, iters: int, k: int, dim: int) -> str:
    """Unrolled PQ/ADC replay: per-subspace L2 k-means (round-6 distances
    → argmin code → round-9 means), corpus encoding, per-query lookup
    tables, DECIMAL-summed ADC scores — mirrors similarity.ann_pq_adc_topk
    step for step."""
    sub = dim // n_sub
    parts = [
        f"""e AS (
  SELECT vec_id, x, d, CAST(d // {sub} AS INT) AS s FROM (
    SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
           generate_subscripts(embedding, 1) - 1 AS d
    FROM embeddings
  )
)""",
        f"""c0 AS (
  SELECT s, CAST(vec_id AS INT) AS code, d, x AS cx
  FROM e WHERE vec_id < {kpq}
)""",
    ]
    for i in range(iters):
        parts.append(f"""s{i + 1} AS (
  SELECT e.vec_id, e.s, c.code,
         round(sum((e.x - c.cx) * (e.x - c.cx)), 6) AS dist
  FROM e JOIN c{i} c ON c.s = e.s AND c.d = e.d
  GROUP BY e.vec_id, e.s, c.code
)""")
        parts.append(f"""a{i + 1} AS (
  SELECT vec_id, s, code FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id, s ORDER BY dist ASC, code ASC) AS rn
    FROM s{i + 1}
  ) WHERE rn = 1
)""")
        parts.append(f"""c{i + 1} AS (
  SELECT a.s, a.code, e.d, round(sum(e.x) / count(*), 9) AS cx
  FROM e JOIN a{i + 1} a ON a.vec_id = e.vec_id AND a.s = e.s
  GROUP BY a.s, a.code, e.d
)""")
    qids = ", ".join(map(str, _QUERY_IDS))
    parts.append(f"""sf AS (
  SELECT e.vec_id, e.s, c.code,
         round(sum((e.x - c.cx) * (e.x - c.cx)), 6) AS dist
  FROM e JOIN c{iters} c ON c.s = e.s AND c.d = e.d
  GROUP BY e.vec_id, e.s, c.code
)""")
    parts.append("""af AS (
  SELECT vec_id, s, code FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id, s ORDER BY dist ASC, code ASC) AS rn
    FROM sf
  ) WHERE rn = 1
)""")
    parts.append(f"""lut AS (
  SELECT vec_id AS query_id, s, code, CAST(dist AS DECIMAL(18,6)) AS dist
  FROM sf WHERE vec_id IN ({qids})
)""")
    parts.append("""scored AS (
  SELECT l.query_id, a.vec_id AS cand_id,
         CAST(sum(l.dist) AS DOUBLE) AS adc_dist
  FROM af a
  JOIN lut l ON l.s = a.s AND l.code = a.code
  WHERE a.vec_id != l.query_id
  GROUP BY l.query_id, a.vec_id
)""")
    parts.append("""ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY adc_dist ASC, cand_id ASC) AS rank
  FROM scored
)""")
    body = ",\n".join(parts)
    return (
        f"WITH {body}\n"
        f"SELECT query_id, cand_id, adc_dist, rank FROM ranked WHERE rank <= {k}"
    )


@register("ann_pq_adc_topk", oracle=_pq_adc_oracle(4, 4, 1, 5, 64))
def q_ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC search: 4 subspaces x 4 codes, 1 Lloyd round, top-5 by
    asymmetric distance — the compressed-corpus ANN rung."""
    return similarity.ann_pq_adc_topk(
        load_table(spark, sf_dir, "embeddings"), _QUERY_IDS, 5, 4, 4, 1, 64
    )


def _ivfpq_oracle(
    ncells: int | str, iters_ivf: int, n_sub: int, kpq: int, iters_pq: int,
    k: int, dim: int,
) -> str:
    """Composed IVF-PQ replay: the kmeans-IVF cell chain (k-prefixed CTEs,
    cosine) + the PQ code/lookup chain (p-prefixed, squared L2) over one
    shared long-form table, then cell-restricted ADC scoring — mirrors
    similarity.ann_ivfpq_topk."""
    sub = dim // n_sub
    qids = ", ".join(map(str, _QUERY_IDS))
    parts = [
        f"""e AS (
  SELECT vec_id, x, d, CAST((d - 1) // {sub} AS INT) AS s FROM (
    SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
           generate_subscripts(embedding, 1) AS d
    FROM embeddings
  )
)""",
        f"kc0 AS (SELECT vec_id AS cell, d, x AS cx FROM e WHERE vec_id < {ncells})",
    ]
    for i in range(iters_ivf):
        parts += [
            f"""ks{i + 1} AS (
  SELECT e.vec_id, c.cell,
         round(sum(e.x * c.cx)
               / (sqrt(sum(e.x * e.x)) * sqrt(sum(c.cx * c.cx))), 6) AS cos
  FROM e JOIN kc{i} c ON e.d = c.d
  GROUP BY e.vec_id, c.cell
)""",
            f"""ka{i + 1} AS (
  SELECT vec_id, cell FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id ORDER BY cos DESC, cell ASC) AS rn
    FROM ks{i + 1}
  ) WHERE rn = 1
)""",
            f"""kc{i + 1} AS (
  SELECT a.cell, e.d, round(sum(e.x) / count(*), 9) AS cx
  FROM e JOIN ka{i + 1} a ON e.vec_id = a.vec_id
  GROUP BY a.cell, e.d
)""",
        ]
    parts += [
        f"""ksf AS (
  SELECT e.vec_id, c.cell,
         round(sum(e.x * c.cx)
               / (sqrt(sum(e.x * e.x)) * sqrt(sum(c.cx * c.cx))), 6) AS cos
  FROM e JOIN kc{iters_ivf} c ON e.d = c.d
  GROUP BY e.vec_id, c.cell
)""",
        """kaf AS (
  SELECT vec_id, cell FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id ORDER BY cos DESC, cell ASC) AS rn
    FROM ksf
  ) WHERE rn = 1
)""",
        f"pc0 AS (SELECT s, CAST(vec_id AS INT) AS code, d, x AS cx FROM e WHERE vec_id < {kpq})",
    ]
    for i in range(iters_pq):
        parts += [
            f"""ps{i + 1} AS (
  SELECT e.vec_id, e.s, c.code,
         round(sum((e.x - c.cx) * (e.x - c.cx)), 6) AS dist
  FROM e JOIN pc{i} c ON c.s = e.s AND c.d = e.d
  GROUP BY e.vec_id, e.s, c.code
)""",
            f"""pa{i + 1} AS (
  SELECT vec_id, s, code FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id, s ORDER BY dist ASC, code ASC) AS rn
    FROM ps{i + 1}
  ) WHERE rn = 1
)""",
            f"""pc{i + 1} AS (
  SELECT a.s, a.code, e.d, round(sum(e.x) / count(*), 9) AS cx
  FROM e JOIN pa{i + 1} a ON a.vec_id = e.vec_id AND a.s = e.s
  GROUP BY a.s, a.code, e.d
)""",
        ]
    parts += [
        f"""psf AS (
  SELECT e.vec_id, e.s, c.code,
         round(sum((e.x - c.cx) * (e.x - c.cx)), 6) AS dist
  FROM e JOIN pc{iters_pq} c ON c.s = e.s AND c.d = e.d
  GROUP BY e.vec_id, e.s, c.code
)""",
        """paf AS (
  SELECT vec_id, s, code FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id, s ORDER BY dist ASC, code ASC) AS rn
    FROM psf
  ) WHERE rn = 1
)""",
        f"""plut AS (
  SELECT vec_id AS query_id, s, code, CAST(dist AS DECIMAL(18,6)) AS dist
  FROM psf WHERE vec_id IN ({qids})
)""",
        f"""cand AS (
  SELECT q.vec_id AS query_id, c.vec_id
  FROM kaf q JOIN kaf c ON c.cell = q.cell AND c.vec_id != q.vec_id
  WHERE q.vec_id IN ({qids})
)""",
        """scored AS (
  SELECT cand.query_id, cand.vec_id AS cand_id,
         CAST(sum(l.dist) AS DOUBLE) AS adc_dist
  FROM cand
  JOIN paf a ON a.vec_id = cand.vec_id
  JOIN plut l ON l.query_id = cand.query_id
             AND l.s = a.s AND l.code = a.code
  GROUP BY cand.query_id, cand.vec_id
)""",
        """ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY adc_dist ASC, cand_id ASC) AS rank
  FROM scored
)""",
    ]
    body = ",\n".join(parts)
    return (
        f"WITH {body}\n"
        f"SELECT query_id, cand_id, adc_dist, rank FROM ranked WHERE rank <= {k}"
    )


@register(
    "ann_ivfpq_topk",
    oracle=_ivfpq_oracle(_NCELLS_SEARCH_SQL, 2, 4, 4, 1, 5, 64),
)
def q_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed IVF-PQ: Lloyd-refined cell restriction + PQ/ADC scoring —
    the production index architecture, both rungs oracle-replayed.
    ncells=None → adaptive_ncells_search (√n cells, FAISS-style)."""
    return similarity.ann_ivfpq_topk(
        load_table(spark, sf_dir, "embeddings"), _QUERY_IDS, 5, None, 2,
        4, 4, 1, 64,
    )


# --- ANN recall instrumentation ---------------------------------------------
# recall@5 of three approximate rungs against the exact brute-force top-5,
# fully oracle-replayable: the oracle COMPOSES the already-registered oracle
# SQL of truth and approximations as subqueries, so both engines compare the
# same four result sets.

_RECALL_METHODS_SQL = "unnest(['ivf_multiprobe', 'ivfpq', 'lsh_bucketed'])"

@register(
    "ann_recall_report",
    oracle=f"""
WITH bf AS (
  SELECT query_id, cand_id FROM ({ORACLES["ann_brute_force_topk"]}) t
),
approx AS (
  SELECT 'ivf_multiprobe' AS method, query_id, cand_id
  FROM ({ORACLES["ann_ivf_multiprobe_topk"]}) t
  UNION ALL
  SELECT 'ivfpq', query_id, cand_id FROM ({ORACLES["ann_ivfpq_topk"]}) t
  UNION ALL
  SELECT 'lsh_bucketed', query_id, cand_id
  FROM ({ORACLES["ann_lsh_bucketed_topk"]}) t
),
methods AS (SELECT {_RECALL_METHODS_SQL} AS method),
hits AS (
  SELECT method, count(*) AS h
  FROM approx JOIN bf USING (query_id, cand_id)
  GROUP BY method
),
denom AS (SELECT count(*) AS total FROM bf)
SELECT m.method,
       CAST(coalesce(h.h, 0) AS BIGINT) AS hits,
       CAST(d.total AS BIGINT) AS total,
       round(CAST(coalesce(h.h, 0) AS DOUBLE) / d.total, 4) AS recall_at_k
FROM methods m LEFT JOIN hits h USING (method), denom d
""",
)
def q_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@5 of IVF-multiprobe, IVF-PQ, and sign-LSH against exact
    brute force — same parameterizations as their standalone queries."""
    emb = load_table(spark, sf_dir, "embeddings")
    truth = similarity.brute_force_topk_np(emb, _QUERY_IDS, 5)
    # resolve the adaptive cell count ONCE — passing ncells=None to both
    # rungs would trigger two redundant embeddings.count() jobs
    ncells = similarity.adaptive_ncells_search(emb.count())
    approx = {
        "ivf_multiprobe": similarity.ivf_multiprobe_topk(
            emb, _QUERY_IDS, 5, ncells, _NPROBE
        ),
        "ivfpq": similarity.ann_ivfpq_topk(
            emb, _QUERY_IDS, 5, ncells, 2, 4, 4, 1, 64
        ),
        "lsh_bucketed": similarity.lsh_bucketed_topk(emb, _QUERY_IDS, 5, 8),
    }
    return similarity.recall_report(truth, approx)


# --- streaming observability: metrics percentile summary --------------------
# The reference publishes p50/p95/p99 latency histograms via Prometheus
# (main.py:47-67); the Spark-native analog summarizes StreamingQueryListener
# per-batch progress.  Gated deterministically: the probe run batches one
# micro-batch PER EVENT DAY (one corpus file per day + maxFilesPerTrigger=1),
# so per-batch num_input_rows is the per-day corpus line count and DuckDB
# replays the whole summary — exact interpolated percentiles on both sides —
# from `events` with one GROUP BY.

@register(
    "streaming_metrics_summary",
    oracle="""
WITH daily AS (
  SELECT date_trunc('day', ts) AS d, count(*) AS n_rows
  FROM events GROUP BY 1
)
SELECT 'num_input_rows' AS metric,
       CAST(count(*) AS BIGINT) AS n_batches,
       CAST(sum(n_rows) AS BIGINT) AS total,
       round(quantile_cont(CAST(n_rows AS DOUBLE), 0.50), 4) AS p50,
       round(quantile_cont(CAST(n_rows AS DOUBLE), 0.95), 4) AS p95,
       round(quantile_cont(CAST(n_rows AS DOUBLE), 0.99), 4) AS p99
FROM daily
""",
)
def q_streaming_metrics_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p95/p99 over per-micro-batch input rows from a real bounded
    streaming run, read from the finished query's ``recentProgress``
    (:func:`streaming.job.run_metrics_probe`)."""
    from stockpulse_batch_realtime_etl_spark.streaming import metrics
    from stockpulse_batch_realtime_etl_spark.streaming.job import (
        run_metrics_probe,
    )

    return metrics.percentile_summary(
        run_metrics_probe(spark, sf_dir), "num_input_rows"
    )


#: REAL resize rung: decode → nearest-neighbor thumbnail (longer edge ≤ 8,
#: integer floor sampling) → re-encode PPM → decode again for stats.  Every
#: resized pixel is v(src_idx) with src_idx = ((r·h//nh)·w + (c·w//nw))·3+ch
#: — pure integer arithmetic the oracle replays without touching bytes; the
#: weighted checksum pins the resized ORDER, so a transposed or unflipped
#: thumbnail fails the gate.
@register(
    "multimodal_resized_stats",
    oracle="""
WITH imgs AS (
  SELECT doc_id AS asset_id,
         CAST(4 + doc_id % 13 AS INT) AS w,
         CAST(4 + doc_id % 11 AS INT) AS h
  FROM documents WHERE doc_id % 3 != 2
),
dims AS (
  -- the netpbm slot's odd sub-variants are P5 GRAYSCALE (r14): one
  -- channel through the whole resize chain
  SELECT asset_id, w, h,
         CASE WHEN asset_id % 3 = 1 AND (asset_id // 50) % 3 = 1
              THEN 1  -- r15 P4 bilevel PBM: one channel on both lanes
              WHEN asset_id % 3 = 1 AND (asset_id // 5) % 2 = 1
              THEN 1 ELSE 3 END AS nch,
         CASE WHEN greatest(w, h) <= 8 THEN w
              ELSE greatest(1, (w * 8) // greatest(w, h)) END AS nw,
         CASE WHEN greatest(w, h) <= 8 THEN h
              ELSE greatest(1, (h * 8) // greatest(w, h)) END AS nh
  FROM imgs
),
pos AS (
  SELECT asset_id, w, h, nch, nw, nh,
         unnest(generate_series(0, nw * nh * nch - 1)) AS p
  FROM dims
),
src AS (
  -- nearest-neighbor source: resized position p reads SOURCE flat
  -- position srci (pixel k = srci//nch, channel p%nch)
  SELECT asset_id, nw, nh, p,
         CASE WHEN nch = 1
              THEN ((p // nw) * h // nh) * w + (p % nw) * w // nw
              ELSE ((p // (nw * 3)) * h // nh) * w * 3
                   + (((p % (nw * 3)) // 3) * w // nw) * 3
                   + p % 3 END AS srci,
         -- EFFECTIVE palette size: the r15 depth overlay caps the
         -- 4-bit/RLE4 slots at 16 entries and the 1-bit slot at 2
         CASE WHEN asset_id % 3 = 0 AND (asset_id // 5) % 3 = 1
                   AND (asset_id // 50) % 3 = 1
              THEN least(1 << CAST(2 + asset_id % 7 AS INT), 16)
              WHEN asset_id % 3 = 0 AND (asset_id // 5) % 3 = 1
                   AND (asset_id // 50) % 3 = 2
              THEN 2
              WHEN asset_id % 3 = 0 AND (asset_id // 5) % 3 = 2
                   AND (asset_id // 50) % 3 = 1
              THEN least(1 << CAST(2 + asset_id % 7 AS INT), 16)
              ELSE (1 << CAST(2 + asset_id % 7 AS INT)) END AS pc
  FROM pos
),
v AS (
  -- bmp assets (asset_id%3=0) with (a//5)%3>0 are the r14 PALETTED
  -- sub-variants: the source pixel reads the palette closed form at
  -- index (3a+5k) mod pc (variant 1) / (3a+5*(k//6)) mod pc (RLE8,
  -- variant 2); everything else is the direct (7a+13*srci) form
  SELECT asset_id, nw, nh, p,
         CASE
              -- r15 netpbm overlays (ppm = asset_id%3=1 here)
              WHEN asset_id % 3 = 1 AND (asset_id // 50) % 3 = 1
              THEN CASE WHEN (3 * asset_id + srci // 4) % 7 < 3
                        THEN 1 ELSE 0 END
              WHEN asset_id % 3 = 1 AND (asset_id // 50) % 3 = 2
              THEN (1237 * asset_id + 4099 * srci) % 65536
              -- r15 16-bit 565 BITFIELDS slot: expanded grid values
              WHEN asset_id % 3 = 0 AND (asset_id // 5) % 3 = 0
                   AND (asset_id // 50) % 3 = 1
              THEN CASE WHEN CAST(srci % 3 AS INT) = 1
                   THEN ((7 * asset_id + 13 * srci) % 64) * 255 // 63
                   ELSE ((7 * asset_id + 13 * srci) % 32) * 255 // 31 END
              WHEN asset_id % 3 = 0 AND (asset_id // 5) % 3 > 0
              THEN (CASE CAST(p % 3 AS INT)
                    WHEN 0 THEN 7 * ((3 * asset_id + 5 * (CASE
                         WHEN (asset_id // 5) % 3 = 2
                         THEN (srci // 3) // 6 ELSE srci // 3 END)) % pc)
                         + asset_id
                    WHEN 1 THEN 11 * ((3 * asset_id + 5 * (CASE
                         WHEN (asset_id // 5) % 3 = 2
                         THEN (srci // 3) // 6 ELSE srci // 3 END)) % pc)
                         + 2 * asset_id
                    ELSE 13 * ((3 * asset_id + 5 * (CASE
                         WHEN (asset_id // 5) % 3 = 2
                         THEN (srci // 3) // 6 ELSE srci // 3 END)) % pc)
                         + 3 * asset_id END) % 256
              ELSE (7 * asset_id + 13 * srci) % 256 END AS val
  FROM src
)
SELECT asset_id,
       'ppm' AS format,
       CAST(max(nw) AS INT) AS width,
       CAST(max(nh) AS INT) AS height,
       CAST(NULL AS INT) AS sample_rate,
       CAST(count(*) AS BIGINT) AS n_values,
       CAST(sum(val) AS BIGINT) AS value_sum,
       CAST(min(val) AS BIGINT) AS value_min,
       CAST(max(val) AS BIGINT) AS value_max,
       CAST(sum(val * (p + 1)) AS BIGINT) AS weighted_sum
FROM v
GROUP BY asset_id
""",
)
def q_multimodal_resized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """decode → real nearest-neighbor resize → re-encode → decode:
    the full uncompressed-codec chain, stats-verified end to end."""
    assets = multimodal.encode_assets(load_table(spark, sf_dir, "documents"))
    return multimodal.decoded_stats(multimodal.resize_decoded(assets, 8))


# --- PII detection / redaction ----------------------------------------------
# The synthetic corpus carries no organic PII, so both gated queries compose
# the deterministic, arithmetic-only injection first (pii.inject_synthetic_pii)
# — the oracle replays the augmentation and the regex scan verbatim, making
# the match/redact path real end-to-end rather than a trivially-zero scan.

from stockpulse_batch_realtime_etl_spark.operators import pii

_PII_AUG_CTE = """aug AS (
  SELECT doc_id, source,
         text
         || CASE WHEN doc_id % 5 = 0
              THEN ' user' || CAST(doc_id AS VARCHAR) || '@example.com'
              ELSE '' END
         || CASE WHEN doc_id % 7 = 0
              THEN ' 10.' || CAST(doc_id % 256 AS VARCHAR) || '.'
                   || CAST((doc_id * 7) % 256 AS VARCHAR) || '.'
                   || CAST(doc_id % 100 AS VARCHAR)
              ELSE '' END
         || CASE WHEN doc_id % 11 = 0
              THEN ' 555-' || lpad(CAST((doc_id * 3) % 1000 AS VARCHAR), 3, '0')
                   || '-' || lpad(CAST((doc_id * 37) % 10000 AS VARCHAR), 4, '0')
              ELSE '' END
         || CASE WHEN doc_id % 13 = 0
              THEN ' ' || CAST(doc_id % 900 + 100 AS VARCHAR) || '-'
                   || CAST(doc_id % 89 + 10 AS VARCHAR) || '-'
                   || CAST(doc_id % 9000 + 1000 AS VARCHAR)
              ELSE '' END
           AS text
  FROM documents
)"""

_PII_COUNTS_SQL = ",\n    ".join(
    f"CAST(len(regexp_extract_all(text, '{pat}')) AS INT) AS n_{kind}"
    for kind, pat, _ in pii.PII_PATTERNS
)
_PII_TOTAL_SQL = " + ".join(f"n_{kind}" for kind, _, _ in pii.PII_PATTERNS)


@register(
    "pii_scan",
    oracle=f"""
WITH {_PII_AUG_CTE},
c AS (
  SELECT doc_id, source,
    {_PII_COUNTS_SQL}
  FROM aug
)
SELECT doc_id, source, n_email, n_ipv4, n_ssn, n_phone,
       {_PII_TOTAL_SQL} AS n_pii,
       ({_PII_TOTAL_SQL}) > 0 AS has_pii
FROM c
""",
)
def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document PII hit counts by kind (email/IPv4/SSN/phone)."""
    return pii.pii_scan(
        pii.inject_synthetic_pii(load_table(spark, sf_dir, "documents"))
    )


_PII_REDACT_SQL = "text"
for _kind, _pat, _tok in pii.PII_PATTERNS:
    _PII_REDACT_SQL = (
        f"regexp_replace({_PII_REDACT_SQL}, '{_pat}', '{_tok}', 'g')"
    )


@register(
    "pii_redact",
    oracle=rf"""
WITH {_PII_AUG_CTE},
red AS (
  SELECT doc_id,
    CAST({" + ".join(f"len(regexp_extract_all(text, '{pat}'))" for _, pat, _ in pii.PII_PATTERNS)} AS INT)
      AS n_redactions,
    {_PII_REDACT_SQL} AS rtext
  FROM aug
)
SELECT doc_id, n_redactions,
       md5(rtext) AS redacted_md5,
       CAST(len(regexp_extract_all(rtext, '{pii.PLACEHOLDER_RE}')) AS INT)
         AS n_placeholders
FROM red
""",
)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redaction report: span counts + md5 of the redacted text."""
    return pii.pii_redact(
        pii.inject_synthetic_pii(load_table(spark, sf_dir, "documents"))
    )


# --- segment-level (line) dedup ---------------------------------------------

_SEG_LEN = 10
_SEG_MIN_DF = 2

#: segments CTE: non-overlapping _SEG_LEN-token windows over the normalized
#: token list (replays text.doc_segments; list_slice clamps at the tail the
#: same way F.slice does).
_SEG_CTE = (
    NORM_TOKS_CTE
    + f""",
seg0 AS (
  SELECT doc_id, toks,
         unnest(range(0, CAST(ceil(len(toks) / {_SEG_LEN}.0) AS BIGINT))) AS si
  FROM tl
),
segf AS (
  SELECT doc_id, CAST(si AS INT) AS seg_idx,
         array_to_string(
           list_slice(toks, si * {_SEG_LEN} + 1, si * {_SEG_LEN} + {_SEG_LEN}),
           ' ') AS segment
  FROM seg0
  WHERE array_to_string(
          list_slice(toks, si * {_SEG_LEN} + 1, si * {_SEG_LEN} + {_SEG_LEN}),
          ' ') != ''
)
"""
)


@register(
    "boilerplate_segments",
    oracle=f"""
WITH {_SEG_CTE.lstrip()}
SELECT segment,
       count(DISTINCT doc_id) AS n_docs,
       count(*) AS n_occurrences
FROM segf
GROUP BY segment
HAVING count(DISTINCT doc_id) >= {_SEG_MIN_DF}
""",
)
def q_boilerplate_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide repeated {seg_len}-token segments (C4 line-dedup rule)."""
    return text.boilerplate_segments(
        load_table(spark, sf_dir, "documents"), _SEG_LEN, _SEG_MIN_DF
    )


@register(
    "segment_dedup_stats",
    oracle=f"""
WITH {_SEG_CTE.lstrip()},
dfreq AS (
  SELECT segment, count(DISTINCT doc_id) AS seg_df FROM segf GROUP BY segment
),
mk AS (
  SELECT s.doc_id, s.seg_idx, s.segment, d.seg_df >= {_SEG_MIN_DF} AS bp
  FROM segf s JOIN dfreq d USING (segment)
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_segments,
       CAST(sum(CASE WHEN bp THEN 1 ELSE 0 END) AS BIGINT) AS n_boilerplate,
       round(CAST(sum(CASE WHEN bp THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4)
         AS boilerplate_frac,
       md5(coalesce(
         string_agg(CASE WHEN NOT bp THEN segment END, ' ' ORDER BY seg_idx),
         '')) AS clean_md5
FROM mk
GROUP BY doc_id
""",
)
def q_segment_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc boilerplate fraction + md5 of the line-deduped text."""
    return text.segment_dedup_stats(
        load_table(spark, sf_dir, "documents"), _SEG_LEN, _SEG_MIN_DF
    )


# --- semantic deduplication (SemDeDup) ---------------------------------------

#: Sits just above the p99 of the within-cell cosine distribution of the
#: synthetic embeddings (p99≈0.334, max≈0.513), so the drop set is the true
#: near-dup tail (~1-5% of the corpus), not a mass cull.  Real sentence
#: embeddings run far tighter; SemDeDup production thresholds are ~0.95+.
_SEMDEDUP_TAU = 0.35


def _semantic_dedup_oracle(ncells: int | str, iters: int, tau: float) -> str:
    """SemDeDup replay: shared kmeans assignment chain (→ af), then the
    within-cell lower-id pair scan and the keep-list left join."""
    parts = _kmeans_assign_parts(ncells, iters)
    parts.append(f"""p AS (
  SELECT b.vec_id AS dup_id,
         round(sum(ae.x * be.x)
               / (sqrt(sum(ae.x * ae.x)) * sqrt(sum(be.x * be.x))), 6)
           AS cos_sim
  FROM af a
  JOIN af b ON b.cell = a.cell AND a.vec_id < b.vec_id
  JOIN e ae ON ae.vec_id = a.vec_id
  JOIN e be ON be.vec_id = b.vec_id AND be.d = ae.d
  GROUP BY a.vec_id, b.vec_id
  HAVING round(sum(ae.x * be.x)
               / (sqrt(sum(ae.x * ae.x)) * sqrt(sum(be.x * be.x))), 6)
         >= {tau}
)""")
    parts.append("dups AS (SELECT DISTINCT dup_id FROM p)")
    body = ",\n".join(parts)
    return (
        f"WITH {body}\n"
        "SELECT a.vec_id, a.cell, d.dup_id IS NULL AS is_kept\n"
        "FROM af a LEFT JOIN dups d ON d.dup_id = a.vec_id"
    )


@register(
    "semantic_dedup",
    oracle=_semantic_dedup_oracle(_NCELLS_DEDUP_SQL, 2, _SEMDEDUP_TAU),
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup keep-list: kmeans cells + within-cell cosine near-dup drop.

    ncells=None → adaptive_ncells (cell size bounded as the corpus grows —
    the round-7 probe fix).  The oracle derives the SAME adaptive count
    via _NCELLS_DEDUP_SQL, so the identity holds at ANY corpus size — not
    just the shipped sfs where the rule happens to resolve to 8
    (test_semdedup_adaptive_ncells_matches_gate_config pins that).
    """
    return similarity.semantic_dedup(
        load_table(spark, sf_dir, "embeddings"), None, 2, _SEMDEDUP_TAU
    )


def _semdedup_recall_oracle(
    ncells: int | str, iters: int, tau: float, truth_cap: int
) -> str:
    """Recall replay: shared kmeans chain (→ af) + brute-force truth from
    the long-form table over the md5-ordered truth sample (a no-op at
    shipped sfs, where n ≤ cap), then a count ratio (found ⊆ truth
    because the cell restriction filters the same cosine criterion)."""
    parts = _kmeans_assign_parts(ncells, iters)
    parts.append(f"""samp AS (
  SELECT vec_id FROM (
    SELECT vec_id, row_number() OVER (
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
    FROM embeddings
  ) WHERE rn <= {truth_cap}
)""")
    parts.append(f"""truth AS (
  SELECT ae.vec_id AS pa, be.vec_id AS pb
  FROM e ae JOIN e be ON be.d = ae.d AND ae.vec_id < be.vec_id
  WHERE ae.vec_id IN (SELECT vec_id FROM samp)
    AND be.vec_id IN (SELECT vec_id FROM samp)
  GROUP BY ae.vec_id, be.vec_id
  HAVING round(sum(ae.x * be.x)
               / (sqrt(sum(ae.x * ae.x)) * sqrt(sum(be.x * be.x))), 6)
         >= {tau}
)""")
    body = ",\n".join(parts)
    return f"""WITH {body}
SELECT CAST(count(*) AS BIGINT) AS n_truth_pairs,
       CAST(coalesce(sum(CASE WHEN ca.cell = cb.cell THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_found_pairs,
       CASE WHEN count(*) = 0 THEN 1.0
            ELSE round(
              CAST(sum(CASE WHEN ca.cell = cb.cell THEN 1 ELSE 0 END)
                   AS DOUBLE) / count(*), 4) END AS recall
FROM truth t
JOIN af ca ON ca.vec_id = t.pa
JOIN af cb ON cb.vec_id = t.pb
"""


@register(
    "semdedup_recall_report",
    oracle=_semdedup_recall_oracle(
        _NCELLS_DEDUP_SQL, 2, _SEMDEDUP_TAU, similarity.SEMDEDUP_TRUTH_CAP
    ),
)
def q_semdedup_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured SemDeDup recall: fraction of brute-force cosine-≥τ pairs
    the cell-restricted search recovers (cluster-boundary misses are the
    known approximation).  The truth side is bounded by the md5-ordered
    SEMDEDUP_TRUTH_CAP sample — a no-op at every shipped sf."""
    return similarity.semdedup_recall_report(
        load_table(spark, sf_dir, "embeddings"), None, 2, _SEMDEDUP_TAU
    )


# --- quality-aware dedup survivor selection ----------------------------------

#: quality formula replay — the shared builder (see _quality_ctes above),
#: minimal shape: q(doc_id, quality).
_QUALITY_CTES = _quality_ctes()


@register(
    "dedup_survivors",
    oracle=f"""
WITH RECURSIVE {SIGS_CTE.lstrip()},
bands AS (
{_BAND_SELECTS}
),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
              AND a.doc_id < b.doc_id
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM cands
  UNION ALL SELECT doc_b, doc_a FROM cands
),
reach(doc_id, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.doc_id = e.b
),
labels AS (
  SELECT d.doc_id, coalesce(c.group_id, d.doc_id) AS group_id
  FROM documents d
  LEFT JOIN (SELECT doc_id, min(r) AS group_id FROM reach GROUP BY doc_id) c
    ON c.doc_id = d.doc_id
),
{_QUALITY_CTES},
j AS (
  SELECT l.group_id, l.doc_id, q.quality
  FROM labels l JOIN q ON q.doc_id = l.doc_id
)
SELECT group_id, doc_id AS survivor_doc_id, group_size, quality AS survivor_quality
FROM (
  SELECT *,
         row_number() OVER (
           PARTITION BY group_id ORDER BY quality DESC, doc_id ASC) AS rn,
         count(*) OVER (PARTITION BY group_id) AS group_size
  FROM j
) WHERE rn = 1
""",
)
def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-quality survivor per minhash-LSH near-dup group."""
    return dedup.dedup_survivors(
        load_table(spark, sf_dir, "documents"), NUM_HASHES, BAND_SIZE, 3
    )


# --- RAG chunking / distribution drift / sessionization ----------------------

_CHUNK_W, _CHUNK_S = 16, 8


@register(
    "chunked_windows",
    oracle=rf"""
WITH norm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS ntext
  FROM documents
),
tl AS (SELECT doc_id, string_split(ntext, ' ') AS toks FROM norm),
c0 AS (
  SELECT doc_id, toks, len(toks) AS ntok,
         unnest(range(0, CAST(ceil(len(toks) / {_CHUNK_S}.0) AS BIGINT))) AS si
  FROM tl
),
ch AS (
  SELECT doc_id, CAST(si AS INT) AS chunk_idx,
         CAST(least({_CHUNK_W}, ntok - si * {_CHUNK_S}) AS INT) AS n_chunk_tokens,
         array_to_string(
           list_slice(toks, si * {_CHUNK_S} + 1, si * {_CHUNK_S} + {_CHUNK_W}),
           ' ') AS chunk
  FROM c0
)
SELECT doc_id, chunk_idx, n_chunk_tokens, md5(chunk) AS chunk_md5
FROM ch WHERE chunk != ''
""",
)
def q_chunked_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token windows (width 16, stride 8) for RAG pipelines."""
    return text.chunked_windows(
        load_table(spark, sf_dir, "documents"), _CHUNK_W, _CHUNK_S
    )


@register(
    "source_kl_divergence",
    oracle=r"""
WITH norm AS (
  SELECT source, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS ntext
  FROM documents
),
tok AS (
  SELECT source, token FROM (
    SELECT source, unnest(string_split(ntext, ' ')) AS token FROM norm
  ) WHERE token != ''
),
base AS (SELECT source, token, count(*) AS c_st FROM tok GROUP BY 1, 2),
ct AS (SELECT token, sum(c_st) AS c_t FROM base GROUP BY 1),
ns AS (SELECT source, sum(c_st) AS n_s FROM base GROUP BY 1),
tot AS (SELECT sum(c_st) AS n_total FROM base),
terms AS (
  SELECT b.source, ns.n_s,
         CAST(round((b.c_st / CAST(ns.n_s AS DOUBLE))
               * ln((b.c_st / CAST(ns.n_s AS DOUBLE))
                    / (ct.c_t / CAST(tot.n_total AS DOUBLE))), 8)
              AS DECIMAL(20,8)) AS term
  FROM base b
  JOIN ct USING (token)
  JOIN ns USING (source), tot
)
SELECT source,
       CAST(max(n_s) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_types,
       round(CAST(sum(term) AS DOUBLE), 6) AS kl_divergence
FROM terms GROUP BY source
""",
)
def q_source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL(p_source ‖ p_corpus) unigram drift per source."""
    return text.source_kl_divergence(load_table(spark, sf_dir, "documents"))


_SESSION_GAP_MIN = 30


@register(
    "user_sessions",
    oracle=f"""
WITH e AS (
  SELECT user_id, ts, event_id, event_type,
         CAST(json_extract(props, '$.k') AS INT) AS k,
         CAST(round(value, 8) AS DECIMAL(20,8)) AS v,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                   > {_SESSION_GAP_MIN * 60 * 1_000_000}
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT *, sum(new_s) OVER (
    PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING
  ) AS session_id
  FROM e
)
SELECT user_id,
       CAST(session_id AS BIGINT) AS session_id,
       min(ts) AS session_start,
       max(ts) AS session_end,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT event_type) AS BIGINT) AS n_event_types,
       round(CAST(sum(v) AS DOUBLE), 4) AS total_value,
       CAST(sum(k) AS BIGINT) AS k_sum
FROM s GROUP BY user_id, session_id
""",
)
def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the raw event log (30-min idle gap)."""
    from stockpulse_batch_realtime_etl_spark.operators.analytics import (
        user_sessions,
    )

    return user_sessions(load_table(spark, sf_dir, "events"), _SESSION_GAP_MIN)


# --- percentile-based quality / length filtering -----------------------------

@register(
    "quality_length_filter",
    oracle=rf"""
WITH {_quality_ctes(carry=("lang",), q_cols=("lang", "CAST(token_count AS INT) AS token_count"))},
cuts AS (
  SELECT lang,
         round(quantile_cont(quality, 0.10), 6) AS q_p10,
         round(quantile_cont(CAST(token_count AS DOUBLE), 0.05), 6) AS len_p05,
         round(quantile_cont(CAST(token_count AS DOUBLE), 0.95), 6) AS len_p95
  FROM q GROUP BY lang
)
SELECT q.doc_id, q.lang, q.quality, q.token_count,
       (q.quality >= c.q_p10
        AND q.token_count >= c.len_p05
        AND q.token_count <= c.len_p95) AS is_kept
FROM q JOIN cuts c USING (lang)
""",
)
def q_quality_length_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language percentile curation filter (quality p10, length p05-p95)."""
    return text.quality_length_filter(load_table(spark, sf_dir, "documents"))


# --- BM25 relevance ranking + /version ---------------------------------------

#: fixed query-term set for the gated BM25 ranking (all present in the
#: synthetic vocabulary; the operator takes any term tuple).
_BM25_TERMS = ("spark", "hash", "window", "join", "stream")
_BM25_K1, _BM25_B, _BM25_TOPK = 1.2, 0.75, 50


@register(
    "bm25_scores",
    oracle=f"""
WITH {NORM_TOKS_CTE.lstrip()},
dl AS (
  SELECT doc_id, len(list_filter(toks, t -> t != '')) AS dl FROM tl
),
st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (
  SELECT doc_id, token, count(*) AS tf
  FROM toks
  WHERE token IN ({", ".join(f"'{t}'" for t in _BM25_TERMS)})
  GROUP BY doc_id, token
),
dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
scored AS (
  SELECT tf.doc_id,
         round(
           ln(CAST(1 AS DOUBLE)
              + (CAST(s.n_docs AS DOUBLE) - df + CAST(0.5 AS DOUBLE))
                / (df + CAST(0.5 AS DOUBLE)))
           * (tf * (CAST({_BM25_K1} AS DOUBLE) + CAST(1 AS DOUBLE)))
           / (tf + CAST({_BM25_K1} AS DOUBLE)
                   * (CAST(1 AS DOUBLE) - CAST({_BM25_B} AS DOUBLE)
                      + CAST({_BM25_B} AS DOUBLE) * d.dl / s.avgdl))
         , 6) AS term_score
  FROM tf
  JOIN dl d ON d.doc_id = tf.doc_id
  JOIN dfreq ON dfreq.token = tf.token
  CROSS JOIN st s
)
SELECT doc_id,
       CAST(sum(CAST(term_score AS DECIMAL(20,6))) AS DOUBLE) AS score,
       CAST(count(*) AS INT) AS n_terms
FROM scored
GROUP BY doc_id
ORDER BY score DESC, doc_id ASC
LIMIT {_BM25_TOPK}
""",
)
def q_bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-50 of the corpus for a fixed 5-term query."""
    return text.bm25_scores(
        load_table(spark, sf_dir, "documents"),
        _BM25_TERMS,
        _BM25_K1,
        _BM25_B,
        _BM25_TOPK,
    )


@register(
    "version_info",
    oracle="""
SELECT 'stockpulse-spark' AS service, '1.0.0' AS version,
       'pyspark' AS engine
""",
)
def q_version_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The /version static endpoint (reference health.py:32-34)."""
    from stockpulse_batch_realtime_etl_spark.operators.serving import (
        version_info,
    )

    return version_info(spark)


@register(
    "streaming_sector_rollup",
    oracle=f"""
{RAW_CTE},
ticks AS (
  SELECT p_symbol AS symbol, p_price AS price, p_volume AS volume,
         p_event_time AS event_time
  FROM parsed
  WHERE NOT malformed AND NOT no_symbol
    AND p_price IS NOT NULL AND p_event_time IS NOT NULL
),
dim AS (
  SELECT DISTINCT symbol,
         'SEC' || CAST(ascii(substr(symbol, 1, 1)) % 3 AS VARCHAR) AS sector
  FROM ticks
)
SELECT d.sector,
       date_trunc('minute', t.event_time) AS bucket_start,
       round(max(price), 4) AS high,
       round(min(price), 4) AS low,
       round(avg(price), 4) AS avg_price,
       CAST(sum(coalesce(volume, 0)) AS BIGINT) AS volume_sum,
       count(*) AS tick_count
FROM ticks t JOIN dim d USING (symbol)
GROUP BY d.sector, date_trunc('minute', t.event_time)
""",
)
def q_streaming_sector_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join end-to-end: the tick stream enriched against a
    broadcast symbol→sector dimension, rolled up per (sector, minute);
    the final table must equal the batch join + GROUP BY."""
    from stockpulse_batch_realtime_etl_spark.streaming.job import (
        run_sector_rollup_available_now,
    )

    out = run_sector_rollup_available_now(spark, sf_dir)
    return out.select(
        "sector",
        "bucket_start",
        F.round("high", 4).alias("high"),
        F.round("low", 4).alias("low"),
        F.round("avg_price_raw", 4).alias("avg_price"),
        F.col("volume_sum").cast("long").alias("volume_sum"),
        F.col("tick_count").cast("long").alias("tick_count"),
    )


@register(
    "streaming_pair_join",
    oracle=f"""
{RAW_CTE},
ticks AS (
  SELECT p_symbol AS symbol, p_price AS price, p_event_time AS event_time
  FROM parsed
  WHERE NOT malformed AND NOT no_symbol
    AND p_price IS NOT NULL AND p_event_time IS NOT NULL
),
a AS (
  SELECT date_trunc('minute', event_time) AS bucket_start,
         event_time AS purchase_time, price AS purchase_price
  FROM ticks WHERE symbol = 'PURCHASE'
),
b AS (
  SELECT date_trunc('minute', event_time) AS m,
         event_time AS click_time, price AS click_price
  FROM ticks WHERE symbol = 'CLICK'
)
SELECT bucket_start, purchase_time, purchase_price, click_time, click_price
FROM a JOIN b ON b.m = a.bucket_start
""",
)
def q_streaming_pair_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join end-to-end: purchase×click ticks of the
    same minute window, both sides watermarked; the appended pair set must
    equal the batch equality join."""
    from stockpulse_batch_realtime_etl_spark.streaming.job import (
        run_stream_stream_join_available_now,
    )

    return run_stream_stream_join_available_now(spark, sf_dir)


@register(
    "streaming_pair_join_outer",
    oracle=f"""
{RAW_CTE},
ticks AS (
  SELECT p_symbol AS symbol, p_price AS price, p_event_time AS event_time
  FROM parsed
  WHERE NOT malformed AND NOT no_symbol
    AND p_price IS NOT NULL AND p_event_time IS NOT NULL
),
a AS (
  SELECT date_trunc('minute', event_time) AS bucket_start,
         event_time AS purchase_time, price AS purchase_price
  FROM ticks WHERE symbol = 'PURCHASE'
),
b AS (
  SELECT date_trunc('minute', event_time) AS m,
         event_time AS click_time, price AS click_price
  FROM ticks WHERE symbol = 'CLICK'
),
-- the engine's final event-time watermark: min over both inputs of
-- (max event_time − the 2-minute delay).  Unmatched purchases in windows
-- the watermark has not passed are STILL HELD IN STATE at end-of-run, so
-- the batch replay must withhold their null rows the same way.  NULL
-- handling matters: DuckDB's least() IGNORES nulls, but a side with no
-- rows means the engine's global watermark never advances — so an empty
-- side must yield a NULL watermark (the <= comparison then withholds
-- every unmatched row, exactly like the stream).
wm AS (
  SELECT CASE WHEN wa IS NULL OR wb IS NULL THEN NULL
              ELSE least(wa, wb) - INTERVAL 2 MINUTE END AS w
  FROM (
    SELECT (SELECT max(event_time) FROM ticks WHERE symbol = 'PURCHASE') AS wa,
           (SELECT max(event_time) FROM ticks WHERE symbol = 'CLICK') AS wb
  )
)
SELECT a.bucket_start, a.purchase_time, a.purchase_price,
       b.click_time, b.click_price
FROM a LEFT JOIN b ON b.m = a.bucket_start
WHERE b.click_time IS NOT NULL
   OR a.bucket_start + INTERVAL 1 MINUTE <= (SELECT w FROM wm)
""",
)
def q_streaming_pair_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join end-to-end: matches emit immediately;
    unmatched purchases emit null click columns only once the watermark
    expires their window — the oracle replays that cutoff exactly."""
    from stockpulse_batch_realtime_etl_spark.streaming.job import (
        run_stream_stream_join_available_now,
    )

    return run_stream_stream_join_available_now(spark, sf_dir, how="left_outer")


#: shared watermark CTE for the outer pair-join oracles: the engine's final
#: event-time watermark is min over both inputs of (max event_time − the
#: 2-minute delay); an EMPTY side yields NULL (its watermark never advances)
#: and the <= comparisons below then withhold every unmatched row — exactly
#: like the stream.  (DuckDB's least() ignores NULLs, hence the CASE.)
_PAIR_JOIN_SIDES = """
ticks AS (
  SELECT p_symbol AS symbol, p_price AS price, p_event_time AS event_time
  FROM parsed
  WHERE NOT malformed AND NOT no_symbol
    AND p_price IS NOT NULL AND p_event_time IS NOT NULL
),
a AS (
  SELECT date_trunc('minute', event_time) AS bucket_start,
         event_time AS purchase_time, price AS purchase_price
  FROM ticks WHERE symbol = 'PURCHASE'
),
b AS (
  SELECT date_trunc('minute', event_time) AS m,
         event_time AS click_time, price AS click_price
  FROM ticks WHERE symbol = 'CLICK'
),
wm AS (
  SELECT CASE WHEN wa IS NULL OR wb IS NULL THEN NULL
              ELSE least(wa, wb) - INTERVAL 2 MINUTE END AS w
  FROM (
    SELECT (SELECT max(event_time) FROM ticks WHERE symbol = 'PURCHASE') AS wa,
           (SELECT max(event_time) FROM ticks WHERE symbol = 'CLICK') AS wb
  )
)"""


@register(
    "streaming_pair_join_right",
    oracle=f"""
{RAW_CTE},
{_PAIR_JOIN_SIDES}
SELECT coalesce(a.bucket_start, b.m) AS bucket_start,
       a.purchase_time, a.purchase_price, b.click_time, b.click_price
FROM a RIGHT JOIN b ON b.m = a.bucket_start
WHERE a.purchase_time IS NOT NULL
   OR b.m + INTERVAL 1 MINUTE <= (SELECT w FROM wm)
""",
)
def q_streaming_pair_join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream RIGHT OUTER join end-to-end: the mirror of the left
    variant — unmatched clicks emit null purchase columns once the
    watermark expires their window."""
    from stockpulse_batch_realtime_etl_spark.streaming.job import (
        run_stream_stream_join_available_now,
    )

    return run_stream_stream_join_available_now(
        spark, sf_dir, how="right_outer"
    )


@register(
    "streaming_pair_join_full",
    oracle=f"""
{RAW_CTE},
{_PAIR_JOIN_SIDES}
SELECT coalesce(a.bucket_start, b.m) AS bucket_start,
       a.purchase_time, a.purchase_price, b.click_time, b.click_price
FROM a FULL JOIN b ON b.m = a.bucket_start
WHERE (a.purchase_time IS NOT NULL AND b.click_time IS NOT NULL)
   OR (a.purchase_time IS NOT NULL AND b.click_time IS NULL
       AND a.bucket_start + INTERVAL 1 MINUTE <= (SELECT w FROM wm))
   OR (a.purchase_time IS NULL
       AND b.m + INTERVAL 1 MINUTE <= (SELECT w FROM wm))
""",
)
def q_streaming_pair_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER join end-to-end: matches emit immediately;
    BOTH sides' unmatched rows emit null-padded once the watermark expires
    their window — the complete stream-stream join matrix."""
    from stockpulse_batch_realtime_etl_spark.streaming.job import (
        run_stream_stream_join_available_now,
    )

    return run_stream_stream_join_available_now(
        spark, sf_dir, how="full_outer"
    )


#: Stream-stream INTERVAL join (attribution): purchase × clicks of the
#: same price-bucket key with click_time ∈ [purchase−10m, purchase] — a
#: time-RANGE join condition on raw event times rather than equal tumbling
#: windows (the state-store shape the pair-join matrix never exercises:
#: range-derived per-side state watermarks).  Inner joins emit matches
#: immediately, so the bounded availableNow pair set equals this batch
#: interval join exactly.  The key is pmod(floor(price), 10): event-id
#: derived keys are structurally useless here (ids are monotone in event
#: time, so ids inside a 10-minute window are consecutive and a modulus
#: either never or always collides); the price bucket is order-independent
#: and replayed from the same JSON-parsed price on both sides.
#:
#: The attribution horizon and key-bucket modulus are shared between the
#: oracle text and the Spark call below (same convention as _NPROBE /
#: SEMDEDUP_TRUTH_CAP): changing either default can never silently desync
#: the two sides into an unexplained hash mismatch.
_INTERVAL_JOIN_MINUTES = 10
_INTERVAL_JOIN_BUCKETS = 10

@register(
    "streaming_interval_join",
    oracle=f"""
{RAW_CTE},
ticks AS (
  SELECT p_symbol AS symbol, p_price AS price, p_event_time AS event_time
  FROM parsed
  WHERE NOT malformed AND NOT no_symbol
    AND p_price IS NOT NULL AND p_event_time IS NOT NULL
),
a AS (
  SELECT ((CAST(floor(price) AS BIGINT) % {_INTERVAL_JOIN_BUCKETS}) + {_INTERVAL_JOIN_BUCKETS}) % {_INTERVAL_JOIN_BUCKETS} AS user_key,
         event_time AS purchase_time, price AS purchase_price
  FROM ticks WHERE symbol = 'PURCHASE'
),
b AS (
  SELECT ((CAST(floor(price) AS BIGINT) % {_INTERVAL_JOIN_BUCKETS}) + {_INTERVAL_JOIN_BUCKETS}) % {_INTERVAL_JOIN_BUCKETS} AS k2,
         event_time AS click_time, price AS click_price
  FROM ticks WHERE symbol = 'CLICK'
)
SELECT a.user_key, a.purchase_time, a.purchase_price,
       b.click_time, b.click_price
FROM a JOIN b ON b.k2 = a.user_key
  AND a.purchase_time >= b.click_time
  AND a.purchase_time <= b.click_time + INTERVAL {_INTERVAL_JOIN_MINUTES} MINUTE
""",
)
def q_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval (attribution) join end-to-end: equi-key +
    10-minute time-range condition, both sides watermarked; the appended
    pair set must equal the batch interval join."""
    from stockpulse_batch_realtime_etl_spark.streaming.job import (
        run_stream_stream_interval_join_available_now,
    )

    return run_stream_stream_interval_join_available_now(
        spark,
        sf_dir,
        attribution_minutes=_INTERVAL_JOIN_MINUTES,
        key_buckets=_INTERVAL_JOIN_BUCKETS,
    )


# --- data profiling (Deequ-style) --------------------------------------------

_PROFILE_COLS = (
    ("o_orderkey", "num"),
    ("o_custkey", "num"),
    ("o_orderstatus", "str"),
    ("o_totalprice", "num"),
    ("o_orderdate", "ts"),
    ("o_orderpriority", "str"),
)


def _profile_oracle(table: str, cols) -> str:
    aggs, selects = [], []
    for i, (c, kind) in enumerate(cols):
        aggs += [
            f"sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS null_{i}",
            f"count(DISTINCT {c}) AS nd_{i}",
            f"min({c}) AS mn_{i}",
            f"max({c}) AS mx_{i}",
        ]
        num = (f"CAST(mn_{i} AS DOUBLE)", f"CAST(mx_{i} AS DOUBLE)") if kind == "num" else ("CAST(NULL AS DOUBLE)",) * 2
        ts = (f"mn_{i}", f"mx_{i}") if kind == "ts" else ("CAST(NULL AS TIMESTAMP)",) * 2
        st = (f"mn_{i}", f"mx_{i}") if kind == "str" else ("CAST(NULL AS VARCHAR)",) * 2
        selects.append(
            f"""SELECT '{c}' AS "column", n AS n_rows,
  CAST(null_{i} AS BIGINT) AS n_null, nd_{i} AS n_distinct,
  {num[0]} AS min_num, {num[1]} AS max_num,
  {ts[0]} AS min_ts, {ts[1]} AS max_ts,
  {st[0]} AS min_str, {st[1]} AS max_str
FROM s"""
        )
    body = ",\n  ".join(["count(*) AS n"] + aggs)
    return (
        f"WITH s AS (SELECT\n  {body}\nFROM {table})\n"
        + "\nUNION ALL\n".join(selects)
    )


@register(
    "orders_profile",
    oracle=_profile_oracle("orders", _PROFILE_COLS),
)
def q_orders_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style profile of the orders table: null/distinct counts and
    typed min/max per column, from ONE aggregate over one scan."""
    from stockpulse_batch_realtime_etl_spark.operators.analytics import (
        table_profile,
    )

    return table_profile(
        load_table(spark, sf_dir, "orders"), [c for c, _ in _PROFILE_COLS]
    )


@register(
    "ngram_novelty",
    oracle=f"""
WITH {NORM_TOKS_CTE.lstrip()},
grams AS (
  SELECT DISTINCT a.doc_id,
         a.token || ' ' || b.token || ' ' || c.token AS gram
  FROM toks a
  JOIN toks b ON b.doc_id = a.doc_id AND b.i = a.i + 1
  JOIN toks c ON c.doc_id = a.doc_id AND c.i = a.i + 2
),
first AS (SELECT gram, min(doc_id) AS first_doc FROM grams GROUP BY gram)
SELECT g.doc_id,
       count(*) AS n_grams,
       CAST(sum(CASE WHEN f.first_doc < g.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_seen_before,
       round(CAST(sum(CASE WHEN f.first_doc < g.doc_id THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) AS dup_fraction
FROM grams g JOIN first f USING (gram)
GROUP BY g.doc_id
""",
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb-style duplicated-3-gram fraction per document."""
    # hot_df_threshold=4: low enough that the synthetic corpus has a
    # non-empty HOT set at the gate sf, so the broadcast-split +
    # salted_join path executes end-to-end under the value hash (salting
    # is exact — the oracle is the plain join either way); production
    # keeps the operator's corpus-calibrated default
    return text.ngram_novelty(
        load_table(spark, sf_dir, "documents"), 3, hot_df_threshold=4
    )


@register(
    "incremental_dedup",
    oracle=rf"""
WITH {SIGS_CTE.lstrip()},
bands AS (
{_BAND_SELECTS}
),
split AS (
  SELECT CAST(floor((max(doc_id) + 1) * 0.8) AS BIGINT) AS sid FROM documents
),
fps AS (
  SELECT doc_id,
         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
  FROM documents
),
base_fp AS (
  SELECT DISTINCT fingerprint FROM fps, split WHERE doc_id < sid
),
near AS (
  SELECT DISTINCT nb.doc_id
  FROM bands nb
  JOIN bands bb ON bb.band_idx = nb.band_idx AND bb.band_hash = nb.band_hash
  CROSS JOIN split
  WHERE nb.doc_id >= sid AND bb.doc_id < sid
)
SELECT n.doc_id,
       (b.fingerprint IS NOT NULL) AS exact_dup,
       (nr.doc_id IS NOT NULL) AS near_dup,
       (b.fingerprint IS NULL AND nr.doc_id IS NULL) AS is_kept
FROM (SELECT doc_id, fingerprint FROM fps, split WHERE doc_id >= sid) n
LEFT JOIN base_fp b USING (fingerprint)
LEFT JOIN near nr ON nr.doc_id = n.doc_id
""",
)
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-crawl-vs-base dedup at the 80% doc_id boundary.

    The split scalar is the one deliberate driver-side collect — an O(1)
    aggregate (same class as the ANN query-set collect), matching the
    oracle's scalar subquery."""
    docs = load_table(spark, sf_dir, "documents")
    sid = docs.agg(
        F.floor((F.max("doc_id") + 1) * 0.8).cast("long")
    ).collect()[0][0]
    return dedup.incremental_dedup(docs, int(sid), NUM_HASHES, BAND_SIZE, 3)


# --- data-quality audits ------------------------------------------------------

_EVENTS_PROFILE_COLS = (
    ("event_id", "num"),
    ("ts", "ts"),
    ("user_id", "num"),
    ("event_type", "str"),
    ("value", "num"),
    ("props", "str"),
)


@register(
    "events_profile",
    oracle=_profile_oracle("events", _EVENTS_PROFILE_COLS).replace(
        "min(ts) AS", "CAST(min(ts) AS TIMESTAMP) AS"
    ).replace("max(ts) AS", "CAST(max(ts) AS TIMESTAMP) AS"),
)
def q_events_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profile of the raw event log — exercises the TIMESTAMP(NANOS)
    column end-to-end through the typed ts slot (the oracle casts its
    ns-precision min/max to µs TIMESTAMP to match the loader)."""
    from stockpulse_batch_realtime_etl_spark.operators.analytics import (
        table_profile,
    )

    return table_profile(
        load_table(spark, sf_dir, "events"),
        [c for c, _ in _EVENTS_PROFILE_COLS],
    )


@register(
    "missing_minutes",
    oracle=f"""
{TICKS_CTE},
m AS (
  SELECT symbol, date_trunc('minute', event_time) AS m FROM ticks
)
SELECT symbol, CAST(date_trunc('day', m) AS DATE) AS day,
       count(DISTINCT m) AS active_minutes,
       CAST(date_diff('minute', min(m), max(m)) AS BIGINT) + 1
         AS expected_minutes,
       CAST(date_diff('minute', min(m), max(m)) AS BIGINT) + 1
         - count(DISTINCT m) AS missing_minutes
FROM m
GROUP BY symbol, CAST(date_trunc('day', m) AS DATE)
""",
)
def q_missing_minutes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(symbol, day) silent-minute census over the tick feed."""
    from stockpulse_batch_realtime_etl_spark.operators.analytics import (
        missing_minutes,
    )
    from stockpulse_batch_realtime_etl_spark.sources.ticks import (
        ticks_from_events,
    )

    return missing_minutes(ticks_from_events(spark, sf_dir))


@register(
    "funnel_counts",
    oracle="""
WITH s1 AS (
  SELECT user_id, min(ts) AS t FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN s1 ON s1.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN s2 ON s2.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t
  GROUP BY e.user_id
)
SELECT 'view' AS step, 1 AS step_idx, CAST(count(*) AS BIGINT) AS n_users FROM s1
UNION ALL
SELECT 'click', 2, CAST(count(*) AS BIGINT) FROM s2
UNION ALL
SELECT 'purchase', 3, CAST(count(*) AS BIGINT) FROM s3
""",
)
def q_funnel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view → click → purchase funnel with strict first-touch ordering."""
    from stockpulse_batch_realtime_etl_spark.operators.analytics import (
        funnel_counts,
    )

    return funnel_counts(load_table(spark, sf_dir, "events"))


@register(
    "cohort_retention",
    oracle="""
WITH first AS (
  SELECT user_id, min(date_trunc('week', ts)) AS cohort_period
  FROM events GROUP BY user_id
),
active AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS p FROM events
)
SELECT CAST(f.cohort_period AS DATE) AS cohort_period,
       CAST(date_diff('day', CAST(f.cohort_period AS DATE), CAST(a.p AS DATE)) / 7
            AS BIGINT) AS period_offset,
       CAST(count(*) AS BIGINT) AS n_users
FROM active a JOIN first f USING (user_id)
GROUP BY CAST(f.cohort_period AS DATE), period_offset
""",
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix over the raw event log."""
    from stockpulse_batch_realtime_etl_spark.operators.analytics import (
        cohort_retention,
    )

    return cohort_retention(load_table(spark, sf_dir, "events"), "week")


def _kmeans_cell_report_oracle(ncells: int, iters: int) -> str:
    parts = _kmeans_assign_parts(ncells, iters)
    parts.append(
        "bc AS (SELECT vec_id, max(cos) AS best_cos FROM sf GROUP BY vec_id)"
    )
    body = ",\n".join(parts)
    return f"""WITH {body}
SELECT af.cell,
       CAST(count(*) AS BIGINT) AS n_members,
       round(CAST(sum(CAST(best_cos AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
         AS mean_cos
FROM af JOIN bc USING (vec_id)
GROUP BY af.cell
"""


@register(
    "kmeans_cell_report",
    oracle=_kmeans_cell_report_oracle(_NCELLS, 2),
)
def q_kmeans_cell_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell size + mean member-to-centroid cosine of the shared
    k-means quantizer."""
    return similarity.kmeans_cell_report(
        load_table(spark, sf_dir, "embeddings"), _NCELLS, 2
    )


@register(
    "return_outliers",
    oracle=f"""
{TICKS_CTE},
r AS (
  SELECT symbol, event_time, price,
         round(CASE WHEN lag(price, 1) OVER w != 0
                    THEN (price - lag(price, 1) OVER w) / lag(price, 1) OVER w
               END, 6) AS ret
  FROM ticks
  WINDOW w AS (PARTITION BY symbol ORDER BY event_time, price, volume)
),
rr AS (SELECT * FROM r WHERE ret IS NOT NULL),
mom AS (
  SELECT symbol,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(CAST(ret AS DECIMAL(25,6))) AS DOUBLE) AS sr,
         CAST(sum(CAST(ret * ret AS DECIMAL(25,6))) AS DOUBLE) AS srr
  FROM rr GROUP BY symbol
)
SELECT rr.symbol, rr.event_time, rr.price, rr.ret,
  -- -0.0 canonicalized to +0.0 (DuckDB's round keeps the sign of a
  -- tiny-negative z; Spark's BigDecimal round does not)
  CASE WHEN round(CASE WHEN sqrt(greatest((srr - sr * sr / n) / n, CAST(0 AS DOUBLE))) > 0
                       THEN (ret - sr / n)
                            / sqrt(greatest((srr - sr * sr / n) / n, CAST(0 AS DOUBLE)))
                  END, 4) = 0
       THEN CAST(0 AS DOUBLE)
       ELSE round(CASE WHEN sqrt(greatest((srr - sr * sr / n) / n, CAST(0 AS DOUBLE))) > 0
                       THEN (ret - sr / n)
                            / sqrt(greatest((srr - sr * sr / n) / n, CAST(0 AS DOUBLE)))
                  END, 4)
  END AS z,
  CASE WHEN sqrt(greatest((srr - sr * sr / n) / n, CAST(0 AS DOUBLE))) > 0
       THEN abs((ret - sr / n)
                / sqrt(greatest((srr - sr * sr / n) / n, CAST(0 AS DOUBLE))))
            > CAST(3 AS DOUBLE)
       ELSE FALSE END AS is_outlier
FROM rr JOIN mom ON mom.symbol = rr.symbol
""",
)
def q_return_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3σ return-outlier screen per symbol (exact DECIMAL moments)."""
    from stockpulse_batch_realtime_etl_spark.operators.rolling import (
        return_outliers,
    )
    from stockpulse_batch_realtime_etl_spark.sources.ticks import (
        ticks_from_events,
    )

    return return_outliers(ticks_from_events(spark, sf_dir), 3.0)


#: REAL video rung: every document encoded as a YUV4MPEG2 (Y4M) stream
#: (2-6 frames of 4:4:4 planes), then container-parsed and frame-sampled
#: (every 2nd frame) executor-side.  The oracle replays the per-frame
#: (11·id + 5·f + 13·i) mod 256 plane arithmetic — the frame-sample seam
#: closes the way PNG closed images.
@register(
    "video_frame_stats",
    oracle="""
WITH base AS (
  SELECT doc_id AS asset_id,
         CAST(4 + doc_id % 13 AS INT) AS w,
         CAST(4 + doc_id % 11 AS INT) AS h,
         CAST(2 + doc_id % 5 AS INT) AS nf,
         (1 << CAST(2 + doc_id % 7 AS INT)) AS pc
  FROM documents
),
fr AS (
  SELECT asset_id, w, h, pc, CAST(f AS INT) AS frame_idx
  FROM (SELECT *, unnest(range(0, nf)) AS f FROM base)
  WHERE f % 2 = 0
),
pos AS (
  SELECT *, unnest(generate_series(0, w * h * 3 - 1)) AS i FROM fr
),
eff AS (
  -- assets 1 mod 3 are ANIMATED GIFs: composed-canvas palette index at
  -- pixel k = i//3 of frame f.  Transmitted j = (3a+5k+11f) mod pc;
  -- the transparent index (3a) mod pc resolves in ONE step (adjacent
  -- frames differ by 11 mod pc != 0): to the background (3a+7) mod pc
  -- under disposal 2 ((a//7)%2=1) or at f=0, else to frame f-1's
  -- index — replaying the decoder's full composition model
  SELECT asset_id, frame_idx, w, h, i,
         CASE WHEN asset_id % 3 = 1 THEN
           CASE WHEN (3*asset_id + 5*(i//3) + 11*frame_idx) % pc
                     <> (3*asset_id) % pc
                THEN (3*asset_id + 5*(i//3) + 11*frame_idx) % pc
                WHEN (asset_id // 7) % 2 = 1 OR frame_idx = 0
                THEN (3*asset_id + 7) % pc
                ELSE (3*asset_id + 5*(i//3) + 11*(frame_idx-1)) % pc
                END
         END AS j
  FROM pos
),
v AS (
  -- 0 mod 3: Y4M stream planes; 1 mod 3: composed GIF frames; 2 mod 3:
  -- MULTI-PAGE TIFF pages (7a+13i+17f, compression cycling per page)
  SELECT asset_id, frame_idx, w, h, w * h * 3 AS n_values, i,
         -- Y4M colourspace sub-robin (r15, (a//3)%3 with dims-parity
         -- fallback to C444): decoded full-res position i maps back to
         -- its STORED stream index — identity for Y and C444; chroma
         -- positions collapse to their subsampled source ((y//2, x//2)
         -- quarter-size planes for C420, (y, x//2) half-width for
         -- C422) — pinning the nearest-neighbor upsample itself
         CASE WHEN asset_id % 3 = 0
              THEN (11 * asset_id + 5 * frame_idx + 13 * (CASE
                   WHEN (asset_id // 3) % 3 = 1 AND w % 2 = 0
                        AND h % 2 = 0 AND i >= w * h
                   THEN w * h
                        + (i // (w * h) - 1) * ((w // 2) * (h // 2))
                        + (((i % (w * h)) // w) // 2) * (w // 2)
                        + ((i % (w * h)) % w) // 2
                   WHEN (asset_id // 3) % 3 = 2 AND w % 2 = 0
                        AND i >= w * h
                   THEN w * h
                        + (i // (w * h) - 1) * ((w // 2) * h)
                        + ((i % (w * h)) // w) * (w // 2)
                        + ((i % (w * h)) % w) // 2
                   ELSE i END)) % 256
              WHEN asset_id % 3 = 2
              THEN (7 * asset_id + 13 * i + 17 * frame_idx) % 256
              ELSE (CASE CAST(i % 3 AS INT)
                    WHEN 0 THEN 7 * j + asset_id
                    WHEN 1 THEN 11 * j + 2 * asset_id
                    ELSE 13 * j + 3 * asset_id END) % 256 END AS val
  FROM eff
)
SELECT asset_id, frame_idx, w AS width, h AS height,
       CAST(max(n_values) AS BIGINT) AS n_values,
       CAST(sum(val) AS BIGINT) AS value_sum,
       CAST(sum(val * (i + 1)) AS BIGINT) AS weighted_sum
FROM v
GROUP BY asset_id, frame_idx, w, h
""",
)
def q_video_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-frame container parse (assets 0 mod 3: Y4M streams;
    1 mod 3: ANIMATED GIFs with transparency + disposal composition;
    2 mod 3: MULTI-PAGE TIFFs with per-page compression, r14) +
    every-2nd-frame sampling + per-composed-frame stats."""
    assets = multimodal.encode_assets(
        load_table(spark, sf_dir, "documents"),
        fmts=("y4m", "gifanim", "tiffpages"),
    )
    return multimodal.sampled_frame_stats(assets, every=2)


#: IMA/DVI ADPCM quantizer tables rendered as SQL VALUES lists — the
#: oracle replays the decode RECURRENCE (predictor/step-index state per
#: 4-bit code) with a recursive CTE, joined against these 89-step /
#: 16-code lookup tables.
_IMA_STEP_VALUES = ",".join(
    f"({i},{s})" for i, s in enumerate(multimodal._IMA_STEPS)
)
_IMA_INDEX_VALUES = ",".join(
    f"({n},{d})" for n, d in enumerate(multimodal._IMA_INDEX)
)

#: Microsoft ADPCM tables for the oracle's second recursive replay:
#: 7 standard predictor-coefficient pairs and the 16-entry delta
#: adaptation table.
_MS_COEF_VALUES = ",".join(
    f"({i},{c1},{c2})" for i, (c1, c2) in enumerate(multimodal._MS_COEFS)
)
_MS_ADAPT_VALUES = ",".join(
    f"({i},{v})" for i, v in enumerate(multimodal._MS_ADAPT)
)
_MS_NIB_MAP_VALUES = ",".join(
    f"({i},{v})" for i, v in enumerate(multimodal._MS_NIB_MAP)
)

#: REAL audio processing rung — EXTENDED in round 12 to the
#: telephony/codec family and in round 13 to Microsoft ADPCM: documents
#: round-robin doc_id % 5 over PCM WAV, G.711 µ-law (fmt 7), G.711
#: A-law (fmt 6), mono IMA/DVI ADPCM (fmt 17) and mono MS ADPCM
#: (fmt 2).  Each payload is REAL bytes for its codec; the pipeline
#: decodes → decimates every-2nd-sample → re-encodes PCM at half rate →
#: decodes again for stats.  The oracle replays the decoded values
#: exactly: the PCM closed form, the G.711 expansion formulas applied
#: to the deterministic byte series, and BOTH ADPCM recurrences via
#: recursive CTEs over the deterministic nibble series (IMA carries
#: (pred, step-index) state; MS carries the two-tap (s1, s2, delta)
#: state with the spec's trunc-toward-zero predictor division).
@register(
    "audio_decimated_stats",
    oracle=f"""
WITH RECURSIVE
base AS (
  SELECT doc_id AS a, 64 + doc_id % 101 AS n0,
         8000 + (doc_id % 5) * 1000 AS rate0,
         CAST(doc_id % 5 AS INT) AS fi
  FROM documents
),
st(si, ss) AS (VALUES {_IMA_STEP_VALUES}),
it(ni, dd) AS (VALUES {_IMA_INDEX_VALUES}),
msct(ci, mc1, mc2) AS (VALUES {_MS_COEF_VALUES}),
mat(mni, mav) AS (VALUES {_MS_ADAPT_VALUES}),
mnp(ti, mn) AS (VALUES {_MS_NIB_MAP_VALUES}),
rec AS (
  SELECT a, n0, 0 AS k, ((31 * a) % 65536) - 32768 AS pred,
         CAST(a % 89 AS INT) AS idx
  FROM base WHERE fi = 3
  UNION ALL
  SELECT a, n0, k + 1,
         GREATEST(-32768, LEAST(32767, pred + sdlt)) AS pred,
         CAST(GREATEST(0, LEAST(88, idx + dd)) AS INT) AS idx
  FROM (
    SELECT r.a, r.n0, r.k, r.pred, r.idx, it.dd,
           (ss // 8 + (nib % 2) * (ss // 4) + ((nib // 2) % 2) * (ss // 2)
            + ((nib // 4) % 2) * ss) * (1 - 2 * (nib // 8)) AS sdlt
    FROM (SELECT *, CAST((7 * a + 3 * k) % 16 AS INT) AS nib
          FROM rec WHERE k < n0 - 1) r
    JOIN st ON st.si = r.idx
    JOIN it ON it.ni = r.nib
  )
),
msrec AS (
  -- MS ADPCM state after emitting index k: s1 = sample[k], s2 =
  -- sample[k-1], delta = current step.  k=1 seeds from the block
  -- header (s2 is emitted at index 0, s1 at index 1); each step
  -- consumes nibble j = k-1 and emits index k+1.  The predictor
  -- division is trunc-toward-zero (the spec listing's C `/ 256`),
  -- hence trunc() over an exact double, not integer floor division.
  SELECT a, n0, 1 AS k,
         ((29 * a) % 65536) - 32768 AS s1,
         ((17 * a) % 65536) - 32768 AS s2,
         16 + (13 * a) % 1000 AS delta
  FROM base WHERE fi = 4
  UNION ALL
  SELECT a, n0, k + 1,
         GREATEST(-32768, LEAST(32767,
           CAST(trunc(CAST(s1 * mc1 + s2 * mc2 AS DOUBLE) / 256) AS BIGINT)
           + (CASE WHEN mn >= 8 THEN mn - 16 ELSE mn END) * delta)
         ) AS s1,
         s1 AS s2,
         GREATEST(16, LEAST({multimodal._MS_DELTA_CAP},
                            (mav * delta) // 256)) AS delta
  FROM (SELECT *, CAST((9 * a + 5 * (k - 1)) % 8 AS INT) AS ti
        FROM msrec WHERE k < n0 - 1) r
  JOIN mnp ON mnp.ti = r.ti
  JOIN msct ON msct.ci = CAST(r.a % 7 AS INT)
  JOIN mat ON mat.mni = mnp.mn
),
v AS (
  SELECT a AS asset_id,
         CASE fi WHEN 0 THEN 'wav' WHEN 1 THEN 'ulaw' ELSE 'alaw'
              END AS format,
         CAST((n0 + 1) // 2 AS BIGINT) AS n_values,
         CAST(rate0 // 2 AS INT) AS sample_rate, j,
         CASE fi
           WHEN 0 THEN ((31 * a + 17 * (2 * j)) % 65536) - 32768
           WHEN 1 THEN (
             SELECT CASE WHEN u >= 128 THEN 132 - t ELSE t - 132 END
             FROM (SELECT 255 - ((13 * a + 7 * (2 * j)) % 256) AS u),
                  (SELECT ((u % 16) * 8 + 132)
                          * (1 << CAST((u // 16) % 8 AS INT)) AS t)
           )
           ELSE (
             SELECT CASE WHEN x >= 128 THEN t ELSE -t END
             FROM (SELECT xor((11 * a + 5 * (2 * j)) % 256, 85) AS x),
                  (SELECT CASE WHEN (x % 128) // 16 = 0
                               THEN (x % 16) * 16 + 8
                          ELSE ((x % 16) * 16 + 264)
                               * (1 << CAST((x % 128) // 16 - 1 AS INT))
                          END AS t)
           )
         END AS val
  FROM (SELECT *, unnest(range(0, (n0 + 1) // 2)) AS j
        FROM base WHERE fi < 3)
  UNION ALL
  SELECT a, 'adpcm', CAST((n0 + 1) // 2 AS BIGINT),
         CAST(rate0 // 2 AS INT), k // 2, pred
  FROM rec JOIN base USING (a, n0) WHERE k % 2 = 0
  UNION ALL
  -- MS ADPCM decimated stream: index 0 is the header's OLDER tap (the
  -- s2 of the k=1 seed row); even indexes k >= 2 read s1 at state k
  SELECT a, 'msadpcm', CAST((n0 + 1) // 2 AS BIGINT),
         CAST(rate0 // 2 AS INT), 0, s2
  FROM msrec JOIN base USING (a, n0) WHERE k = 1
  UNION ALL
  SELECT a, 'msadpcm', CAST((n0 + 1) // 2 AS BIGINT),
         CAST(rate0 // 2 AS INT), k // 2, s1
  FROM msrec JOIN base USING (a, n0) WHERE k % 2 = 0
)
SELECT asset_id, format,
       CAST(NULL AS INT) AS width, CAST(NULL AS INT) AS height,
       sample_rate,
       CAST(max(n_values) AS BIGINT) AS n_values,
       CAST(sum(val) AS BIGINT) AS value_sum,
       CAST(min(val) AS BIGINT) AS value_min,
       CAST(max(val) AS BIGINT) AS value_max,
       CAST(sum(val * (j + 1)) AS BIGINT) AS weighted_sum
FROM v
GROUP BY asset_id, format, sample_rate
""",
)
def q_audio_decimated_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio decode → 2x decimation → re-encode → decode over the
    PCM/µ-law/A-law/IMA-ADPCM/MS-ADPCM corpus, stats-verified per
    codec path."""
    assets = multimodal.encode_assets(
        load_table(spark, sf_dir, "documents"),
        fmts=("wav", "ulaw", "alaw", "adpcm", "msadpcm"),
    )
    return multimodal.decoded_stats(multimodal.decimate_audio(assets, 2))
