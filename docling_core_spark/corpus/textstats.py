"""Text-analysis operators: token counting, language-ID, quality scoring,
document fingerprinting. Spark side is pure JVM expressions (whole-stage
codegen; no Python UDFs); each op ships a DuckDB oracle generated from the
same constants in `constants.py`.

Reference analog: docling-core has no corpus analytics; these are the
training-data-pipeline companions the 100 TB deployment needs (lang-ID /
quality filtering / token budgeting / fingerprint dedup prep).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import constants as C, read_spread

# ---------------------------------------------------------------------------
# shared expression fragments (Spark SQL dialect)
# ---------------------------------------------------------------------------

TOKENS_SPARK = r"split(lower(trim(text)), '\\s+')"
TOKENS_DUCK = r"regexp_split_to_array(lower(trim(text)), '\s+')"


def _spark_re(pattern: str) -> str:
    """Escape a regex for embedding in a Spark SQL single-quoted literal
    (Spark's parser treats backslash as an escape; DuckDB's does not)."""
    return pattern.replace("\\", "\\\\")


def _h30_spark(s: str) -> str:
    return (
        f"pmod(cast(conv(substring(md5(encode({s}, 'utf-8')), 1, 15), 16, 10)"
        f" as bigint), {C.H30_MOD})"
    )


def _h30_duck(s: str) -> str:
    return f"(('0x' || substr(md5({s}), 1, 15))::BIGINT % {C.H30_MOD})"


def _sw_array_sql(lang: str) -> str:
    return "[" + ", ".join(f"'{w}'" for w in C.STOPWORDS[lang]) + "]"


def _sw_array_spark(lang: str) -> str:
    return "array(" + ", ".join(f"'{w}'" for w in C.STOPWORDS[lang]) + ")"


# ---------------------------------------------------------------------------
# token_stats
# ---------------------------------------------------------------------------

def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish regex token counts and repetition ratio."""
    docs = read_spread(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.expr(f"size({TOKENS_SPARK})").alias("n_tokens"),
        F.expr(f"size(array_distinct({TOKENS_SPARK}))").alias(
            "n_distinct_tokens"
        ),
        F.expr(
            f"size(regexp_extract_all(lower(text),"
            f" '{_spark_re(C.BPE_TOKEN_RE)}', 0))"
        ).alias("n_bpe_tokens"),
        F.length("text").alias("n_chars_actual"),
        F.expr(
            f"round(size(array_distinct({TOKENS_SPARK})) /"
            f" cast(size({TOKENS_SPARK}) as double), 6)"
        ).alias("repetition_ratio"),
    )


def sql_token_stats() -> str:
    return rf"""
        SELECT doc_id,
               len({TOKENS_DUCK}) AS n_tokens,
               len(list_distinct({TOKENS_DUCK})) AS n_distinct_tokens,
               len(regexp_extract_all(lower(text), '{C.BPE_TOKEN_RE}'))
                   AS n_bpe_tokens,
               length(text) AS n_chars_actual,
               round(len(list_distinct({TOKENS_DUCK}))::DOUBLE
                     / len({TOKENS_DUCK}), 6) AS repetition_ratio
        FROM documents
    """


# ---------------------------------------------------------------------------
# language-ID (stopword n-gram heuristic)
# ---------------------------------------------------------------------------

def _lang_case(score_col) -> str:
    """Deterministic argmax with alphabetical tie-break; identical CASE
    text works in both dialects given per-lang score columns s_<lang>."""
    langs = C.LANGS
    clauses = []
    for i, lang in enumerate(langs):
        rest = langs[i + 1:]
        if rest:
            cond = " AND ".join(
                f"{score_col(lang)} >= {score_col(o)}" for o in rest
            )
            clauses.append(f"WHEN {cond} THEN '{lang}'")
        else:
            clauses.append(f"ELSE '{lang}'")
    return "CASE " + " ".join(clauses) + " END"


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_spread(spark, sf_dir, "documents")
    with_scores = docs.select(
        "doc_id",
        "lang",
        F.expr(f"size({TOKENS_SPARK})").alias("n_tokens"),
        *[
            F.expr(
                f"size(filter({TOKENS_SPARK},"
                f" t -> array_contains({_sw_array_spark(lang)}, t)))"
            ).alias(f"s_{lang}")
            for lang in C.LANGS
        ],
    )
    case = _lang_case(lambda lg: f"s_{lg}")
    return with_scores.select(
        "doc_id",
        F.expr(case).alias("pred_lang"),
        *[F.col(f"s_{lg}") for lg in C.LANGS],
        F.when(F.expr(case) == F.col("lang"), 1).otherwise(0).alias(
            "matches_meta"
        ),
    )


def sql_lang_id() -> str:
    score_exprs = ",\n               ".join(
        f"len(list_filter({TOKENS_DUCK},"
        f" t -> list_contains({_sw_array_sql(lang)}, t))) AS s_{lang}"
        for lang in C.LANGS
    )
    case = _lang_case(lambda lg: f"s_{lg}")
    score_cols = ", ".join(f"s_{lg}" for lg in C.LANGS)
    return f"""
        WITH scored AS (
            SELECT doc_id, lang,
               {score_exprs}
            FROM documents
        )
        SELECT doc_id, {case} AS pred_lang, {score_cols},
               CASE WHEN ({case}) = lang THEN 1 ELSE 0 END AS matches_meta
        FROM scored
    """


# ---------------------------------------------------------------------------
# quality scoring
# ---------------------------------------------------------------------------

def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_spread(spark, sf_dir, "documents")
    en_sw = _sw_array_spark("en")
    base = docs.select(
        "doc_id",
        F.expr(f"size({TOKENS_SPARK})").alias("n_tokens"),
        F.expr(
            f"aggregate(transform({TOKENS_SPARK}, t -> length(t)),"
            f" 0, (acc, x) -> acc + x)"
        ).alias("sum_token_len"),
        F.expr(
            f"size(filter({TOKENS_SPARK},"
            f" t -> array_contains({en_sw}, t)))"
        ).alias("n_stopwords"),
        F.expr("length(regexp_replace(text, '[^0-9]', ''))").alias("n_digits"),
        F.expr(
            r"length(regexp_replace(lower(text), '[a-z0-9\\s]', ''))"
        ).alias("n_punct"),
        F.expr(f"size(array_distinct({TOKENS_SPARK}))").alias("n_distinct"),
        F.length("text").alias("n_chars"),
    )
    return base.select(
        "doc_id",
        "n_tokens",
        F.expr(
            "round(sum_token_len / cast(n_tokens as double), 6)"
        ).alias("mean_token_len"),
        F.expr(
            "round(n_stopwords / cast(n_tokens as double), 6)"
        ).alias("stopword_ratio"),
        F.expr("round(n_digits / cast(n_chars as double), 6)").alias(
            "digit_ratio"
        ),
        F.expr("round(n_punct / cast(n_chars as double), 6)").alias(
            "punct_ratio"
        ),
        F.expr(
            "round(n_distinct / cast(n_tokens as double), 6)"
        ).alias("repetition_ratio"),
        F.expr(
            "round("
            " least(n_tokens / 64.0, 1.0) * 0.25"
            " + least(n_stopwords / cast(n_tokens as double) * 4.0, 1.0)"
            "   * 0.25"
            " + (1.0 - n_digits / cast(n_chars as double)) * 0.25"
            " + (n_distinct / cast(n_tokens as double)) * 0.25, 6)"
        ).alias("quality_score"),
    )


def sql_quality() -> str:
    en_sw = _sw_array_sql("en")
    return rf"""
        WITH base AS (
            SELECT doc_id,
                   len({TOKENS_DUCK}) AS n_tokens,
                   list_sum(list_transform({TOKENS_DUCK},
                            t -> length(t)))::BIGINT AS sum_token_len,
                   len(list_filter({TOKENS_DUCK},
                       t -> list_contains({en_sw}, t))) AS n_stopwords,
                   length(regexp_replace(text, '[^0-9]', '', 'g'))
                       AS n_digits,
                   length(regexp_replace(lower(text), '[a-z0-9\s]', '', 'g'))
                       AS n_punct,
                   len(list_distinct({TOKENS_DUCK})) AS n_distinct,
                   length(text) AS n_chars
            FROM documents
        )
        SELECT doc_id, n_tokens,
               round(sum_token_len / n_tokens::DOUBLE, 6) AS mean_token_len,
               round(n_stopwords / n_tokens::DOUBLE, 6) AS stopword_ratio,
               round(n_digits / n_chars::DOUBLE, 6) AS digit_ratio,
               round(n_punct / n_chars::DOUBLE, 6) AS punct_ratio,
               round(n_distinct / n_tokens::DOUBLE, 6) AS repetition_ratio,
               round(least(n_tokens / 64.0, 1.0) * 0.25
                     + least(n_stopwords / n_tokens::DOUBLE * 4.0, 1.0)
                       * 0.25
                     + (1.0 - n_digits / n_chars::DOUBLE) * 0.25
                     + (n_distinct / n_tokens::DOUBLE) * 0.25, 6)
                   AS quality_score
        FROM base
    """


# ---------------------------------------------------------------------------
# document fingerprinting (MOD-p selected char k-gram rolling hashes)
# ---------------------------------------------------------------------------

def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style fingerprint: hash every char k-gram, keep the
    0-mod-p subset, emit sorted-distinct digest. Two docs sharing text
    share fingerprints — this is the cheap pre-filter before pairwise
    dedup at scale."""
    docs = read_spread(spark, sf_dir, "documents")
    k, m = C.FP_CHARGRAM_K, C.FP_SELECT_MOD
    grams = (
        f"transform(sequence(1, greatest(length(text) - {k - 1}, 1)),"
        f" i -> substring(text, i, {k}))"
    )
    hashes = f"transform({grams}, g -> {_h30_spark('g')})"
    selected = f"array_sort(array_distinct(filter({hashes}, h -> h % {m} = 0)))"
    return docs.select(
        "doc_id",
        F.expr(f"size({selected})").alias("n_fingerprints"),
        F.expr(
            f"md5(encode(concat_ws(',', transform({selected},"
            f" h -> cast(h as string))), 'utf-8'))"
        ).alias("fingerprint_md5"),
    )


def sql_fingerprint() -> str:
    k, m = C.FP_CHARGRAM_K, C.FP_SELECT_MOD
    grams = (
        f"list_transform(generate_series(1, greatest(length(text) - {k - 1},"
        f" 1)), i -> substr(text, i, {k}))"
    )
    hashes = f"list_transform({grams}, g -> {_h30_duck('g')})"
    selected = (
        f"list_sort(list_distinct(list_filter({hashes}, h -> h % {m} = 0)))"
    )
    # coalesce: DuckDB's array_to_string([]) is NULL, Spark's
    # concat_ws over an empty array is '' — align on ''
    return f"""
        SELECT doc_id,
               len({selected}) AS n_fingerprints,
               md5(coalesce(array_to_string(list_transform({selected},
                   h -> h::VARCHAR), ','), '')) AS fingerprint_md5
        FROM documents
    """


# ---------------------------------------------------------------------------
# corpus rollup stats (the curation dashboard query)
# ---------------------------------------------------------------------------

def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram token entropy H = -sum(p ln p) in exact
    integer micro-nats — the templated/spam-text detector orthogonal to
    the repetition-fraction signals (dup_ngrams counts repeated mass;
    entropy catches low-diversity text even when no single n-gram
    repeats). Each per-type term c/n * ln(n/c) is integerised to
    micro-nats BEFORE the rollup exchange (the lm_score float
    discipline), so the sum is exact in any partition order.

    100 TB story: one map-side-combinable groupBy on the uniform
    (doc_id, token) key — a 10^9-fold repeated token collapses per map
    task; the total-join is a pruned (doc_id, n) projection on the
    same uniform doc key; the rollup is a second map-side-combinable
    groupBy on doc_id. No windows, no per-row Python, docs with zero
    tokens are excluded identically in both engines.
    """
    docs = read_spread(spark, sf_dir, "documents")
    counts = (
        docs.select(
            "doc_id", F.explode(F.expr(TOKENS_SPARK)).alias("tok")
        )
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    totals = docs.select(
        "doc_id", F.expr(f"size({TOKENS_SPARK})").alias("n")
    ).filter("n > 0")
    return (
        counts.join(totals, "doc_id")
        .select(
            "doc_id",
            "n",
            F.expr(
                "cast(floor((c * ln(n / cast(c as double)) / n)"
                " * 1000000 + 0.5) as bigint)"
            ).alias("term_micro"),
        )
        .groupBy("doc_id")
        .agg(
            F.max("n").cast("bigint").alias("n_tokens"),
            F.count("*").cast("bigint").alias("n_types"),
            F.sum("term_micro").cast("bigint").alias("ent_micro"),
        )
    )


def sql_token_entropy() -> str:
    return f"""
        WITH toks AS (
            SELECT doc_id, unnest({TOKENS_DUCK}) AS tok FROM documents
        ),
        counts AS (
            SELECT doc_id, tok, COUNT(*) AS c
            FROM toks GROUP BY doc_id, tok
        ),
        totals AS (
            SELECT doc_id, len({TOKENS_DUCK}) AS n FROM documents
            WHERE len({TOKENS_DUCK}) > 0
        ),
        terms AS (
            SELECT c.doc_id, t.n,
                   floor((c.c * ln(t.n / c.c::DOUBLE) / t.n)
                         * 1000000 + 0.5)::BIGINT AS term_micro
            FROM counts c JOIN totals t USING (doc_id)
        )
        SELECT doc_id,
               MAX(n)::BIGINT AS n_tokens,
               COUNT(*)::BIGINT AS n_types,
               SUM(term_micro)::BIGINT AS ent_micro
        FROM terms GROUP BY doc_id
    """


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, lang) corpus rollup: document counts, token mass,
    and EXACT token-count percentiles (p50/p90/p99, linear
    interpolation — Spark `percentile` and DuckDB `quantile_cont`
    share the definition; values rounded to 6dp for the cross-engine
    hash). One shuffle on the tiny (source, lang) key; the percentile
    agg holds each group's token-count list, fine for dashboard
    cardinality — a per-document percentile at 10^12 rows would use
    approx_percentile with a documented error bound instead."""
    docs = read_spread(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        "lang",
        F.expr(f"size({TOKENS_SPARK})").alias("n_toks"),
        "n_chars",
    )
    return toks.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("sum_tokens"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
        F.expr("round(percentile(n_toks, 0.5), 6)").alias("p50_tokens"),
        F.expr("round(percentile(n_toks, 0.9), 6)").alias("p90_tokens"),
        F.expr("round(percentile(n_toks, 0.99), 6)").alias("p99_tokens"),
    )


def sql_corpus_stats() -> str:
    return f"""
        WITH toks AS (
            SELECT source, lang, len({TOKENS_DUCK}) AS n_toks, n_chars
            FROM documents
        )
        SELECT source, lang, count(*) AS n_docs,
               sum(n_toks)::BIGINT AS sum_tokens,
               sum(n_chars)::BIGINT AS sum_chars,
               round(quantile_cont(n_toks, 0.5), 6) AS p50_tokens,
               round(quantile_cont(n_toks, 0.9), 6) AS p90_tokens,
               round(quantile_cont(n_toks, 0.99), 6) AS p99_tokens
        FROM toks GROUP BY source, lang
    """


# ---------------------------------------------------------------------------
# histogram quantile sketch (the 10^12-row path corpus_stats documents)
# ---------------------------------------------------------------------------

HIST_PCTS = (50, 90, 99)


def q_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lang token-count quantile ESTIMATES from a power-of-two
    histogram sketch — the bounded-state upgrade path q_corpus_stats'
    docstring promises for 10^12 rows, where holding each group's
    value list (Spark `percentile`) is impossible.

    The bucket is the binary WIDTH of the token count
    (`length(bin(n))`, i.e. floor(log2 n)+1) — pure integer arithmetic,
    bit-identical in both engines, no float log. The histogram is one
    map-side-combined groupBy onto a key space of at most
    langs x 64 buckets regardless of corpus size; the cumulative
    window and the quantile cut run over THAT sketch table, never the
    corpus. Each estimate is the bucket's inclusive upper bound
    2^w - 1, so est/2 < true quantile <= est (one-bucket guarantee,
    asserted in tests). Rank rule: smallest bucket with
    cum * 100 >= pct * total — exact integer comparison.
    """
    docs = read_spread(spark, sf_dir, "documents")
    toks = docs.select(
        "lang",
        F.expr(
            f"case when size({TOKENS_SPARK}) = 0 then 0"
            f" else length(bin(cast(size({TOKENS_SPARK}) as bigint)))"
            f" end"
        ).alias("w"),
    )
    hist = toks.groupBy("lang", "w").agg(
        F.count("*").cast("bigint").alias("c")
    )
    from pyspark.sql import Window

    cum = hist.select(
        "lang",
        "w",
        F.sum("c").over(
            Window.partitionBy("lang").orderBy("w")
        ).alias("cum"),
        F.sum("c").over(Window.partitionBy("lang")).alias("total"),
    )
    aggs = [F.max("total").cast("bigint").alias("n_docs")]
    for p in HIST_PCTS:
        aggs.append(
            F.min(
                F.expr(
                    f"case when cum * 100 >= {p} * total"
                    f" then shiftleft(cast(1 as bigint), w) - 1 end"
                )
            ).cast("bigint").alias(f"p{p}_ub")
        )
    return cum.groupBy("lang").agg(*aggs)


def sql_hist_quantiles() -> str:
    cuts = ",\n               ".join(
        f"MIN(CASE WHEN cum * 100 >= {p} * total"
        f" THEN (1::BIGINT << w) - 1 END)::BIGINT AS p{p}_ub"
        for p in HIST_PCTS
    )
    return f"""
        WITH toks AS (
            SELECT lang,
                   CASE WHEN len({TOKENS_DUCK}) = 0 THEN 0
                        ELSE length(bin(len({TOKENS_DUCK})::BIGINT))
                   END AS w
            FROM documents
        ),
        hist AS (
            SELECT lang, w, COUNT(*)::BIGINT AS c
            FROM toks GROUP BY lang, w
        ),
        cum AS (
            SELECT lang, w,
                   SUM(c) OVER (PARTITION BY lang ORDER BY w) AS cum,
                   SUM(c) OVER (PARTITION BY lang) AS total
            FROM hist
        )
        SELECT lang, MAX(total)::BIGINT AS n_docs,
               {cuts}
        FROM cum GROUP BY lang
    """


# ---------------------------------------------------------------------------
# langid_confusion: evaluation of the language-ID heuristic as a query
# ---------------------------------------------------------------------------


def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the stopword lang-ID against the table's
    ground-truth labels, plus per-true-lang recall in exact micro
    units — the same make-quality-claims-gateable philosophy as
    ann_recall: the classifier's operating quality is a verified gate
    row, not a doc figure.

    100 TB story: per-row prediction is the same zero-shuffle
    expression as q_lang_id; the rollup is one map-side-combined
    groupBy on the (true, pred) key — at most |langs|^2 rows out
    regardless of corpus size; recall joins against the per-true-lang
    totals on that same tiny key space."""
    preds = q_lang_id(spark, sf_dir).select("doc_id", "pred_lang")
    docs = read_spread(spark, sf_dir, "documents").select(
        "doc_id", F.col("lang").alias("true_lang")
    )
    cells = (
        docs.join(preds, "doc_id")
        .groupBy("true_lang", "pred_lang")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    totals = cells.groupBy("true_lang").agg(
        F.sum("n").cast("bigint").alias("n_true")
    )
    return cells.join(totals, "true_lang").select(
        "true_lang",
        "pred_lang",
        "n",
        "n_true",
        F.expr("(n * 1000000) div n_true").cast("bigint").alias(
            "share_micro"
        ),
    )


def sql_langid_confusion() -> str:
    return f"""
        WITH preds AS (
            SELECT doc_id, pred_lang FROM ({sql_lang_id()})
        ),
        cells AS (
            SELECT d.lang AS true_lang, p.pred_lang,
                   COUNT(*)::BIGINT AS n
            FROM documents d JOIN preds p USING (doc_id)
            GROUP BY d.lang, p.pred_lang
        ),
        totals AS (
            SELECT true_lang, SUM(n)::BIGINT AS n_true
            FROM cells GROUP BY true_lang
        )
        SELECT true_lang, pred_lang, n, n_true,
               ((n * 1000000) // n_true)::BIGINT AS share_micro
        FROM cells JOIN totals USING (true_lang)
    """


# ---------------------------------------------------------------------------
# Per-source length quantiles (bucketed inversion — the per-group twin
# of hist_quantiles' corpus-global sketch)
# ---------------------------------------------------------------------------

LEN_BUCKET_W = 64  # chars per bucket: quantile error <= one bucket


def q_source_length_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """p50/p90/p99 of document length PER SOURCE, computed the
    bounded-state way: fixed 64-char buckets -> per-(source, bucket)
    counts -> cumulative inversion. Exact to one bucket width, and the
    per-source cumulative window runs over bucket rows (len/64 of
    them), never documents — the standard distributed per-group
    quantile shape when exact per-group sorts would be a corpus-wide
    skewed shuffle. Reported values are bucket UPPER bounds.

    100 TB story: one map-side-combined groupBy on (source, bucket);
    the window partitions by source over <= max_len/64 bucket rows per
    source; output is source-table-sized."""
    docs = read_spread(spark, sf_dir, "documents")
    b = (
        docs.select(
            "source",
            F.expr(f"cast(n_chars div {LEN_BUCKET_W} as bigint)")
            .alias("bucket"),
        )
        .groupBy("source", "bucket")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.asc("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("source")
    cum = b.select(
        "source", "bucket", "cnt",
        F.sum("cnt").over(w).cast("bigint").alias("cum"),
        F.sum("cnt").over(wt).cast("bigint").alias("total"),
    )
    def q_expr(pct: int, name: str):
        return F.min(
            F.expr(
                f"case when cum >= (total * {pct} + 99) div 100"
                f" then bucket * {LEN_BUCKET_W} + {LEN_BUCKET_W - 1}"
                " end"
            )
        ).cast("bigint").alias(name)
    return cum.groupBy("source").agg(
        F.max("total").cast("bigint").alias("n_docs"),
        q_expr(50, "p50_chars"),
        q_expr(90, "p90_chars"),
        q_expr(99, "p99_chars"),
    )


def sql_source_length_quantiles() -> str:
    def q_sql(pct: int, name: str) -> str:
        return (
            f"MIN(CASE WHEN cum >= (total * {pct} + 99) // 100"
            f" THEN bucket * {LEN_BUCKET_W} + {LEN_BUCKET_W - 1}"
            f" END)::BIGINT AS {name}"
        )
    return f"""
        WITH b AS (
            SELECT source,
                   (n_chars // {LEN_BUCKET_W})::BIGINT AS bucket,
                   COUNT(*)::BIGINT AS cnt
            FROM documents GROUP BY source, (n_chars // {LEN_BUCKET_W})
        ),
        cum AS (
            SELECT source, bucket, cnt,
                   SUM(cnt) OVER (
                       PARTITION BY source ORDER BY bucket ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   )::BIGINT AS cum,
                   SUM(cnt) OVER (PARTITION BY source)::BIGINT AS total
            FROM b
        )
        SELECT source,
               MAX(total)::BIGINT AS n_docs,
               {q_sql(50, "p50_chars")},
               {q_sql(90, "p90_chars")},
               {q_sql(99, "p99_chars")}
        FROM cum GROUP BY source
    """


# ---------------------------------------------------------------------------
# Vocabulary growth curve (Heaps' law census)
# ---------------------------------------------------------------------------
# How fast does the corpus vocabulary grow as documents are added?
# Heaps' law (V ~ K * n^beta) governs tokenizer-vocab sizing, OOV-rate
# forecasting, and dedup-health monitoring (a corpus whose vocabulary
# growth flattens abruptly is repeating itself). The naive census —
# distinct tokens per corpus prefix — is a sequential scan; the
# distributed identity is: a token contributes to prefix k iff its
# FIRST document lands in the prefix, so min(doc_id) per token (one
# map-side-combinable groupBy over exploded tokens) fully determines
# every prefix's vocabulary. Documents are ranged into VG_POINTS
# equal doc_id slices; the report cumulates over slice rows.
#
# 100 TB story: one explode -> groupBy(token).min shuffle whose output
# is vocabulary-sized (Heaps-sublinear in the corpus); per-doc token
# counts are zero-shuffle; the cumulative window runs over VG_POINTS
# rows. The scalar max(doc_id) is pinned once by a driver-side
# 8-byte collect of a column-pruned agg (the allowed tiny-metric
# collect class), not a per-row join.

VG_POINTS = 16


def _vg_bucket(col: str, spark: bool) -> str:
    # slice index in [1, VG_POINTS]: floor(id * P / (max_id + 1)) + 1
    d = "div" if spark else "//"
    return f"(({col} * {VG_POINTS}) {d} (max_id + 1)) + 1"


def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VG_POINTS rows: cumulative docs, tokens, distinct vocabulary and
    type-token ratio (ppm) per doc_id-ordered corpus prefix."""
    docs = read_spread(spark, sf_dir, "documents")
    # scalar pin: one doc_id-only column scan collected to the driver
    # (8 bytes) — embedding the literal keeps the three consumers from
    # re-deriving it with three more scans + nested-loop joins
    max_id = docs.agg(F.max("doc_id").cast("bigint")).collect()[0][0]
    denom = f"(doc_id_sub * {VG_POINTS}) div ({max_id} + 1) + 1"
    firstdoc = (
        docs.select("doc_id", F.explode(F.expr(TOKENS_SPARK)).alias("tok"))
        .groupBy("tok")
        .agg(F.min("doc_id").cast("bigint").alias("first_doc"))
    )
    vocab_new = (
        firstdoc.select(
            F.expr(denom.replace("doc_id_sub", "first_doc")).alias("k")
        )
        .groupBy("k")
        .agg(F.count("*").cast("bigint").alias("new_vocab"))
    )
    doc_new = (
        docs.select(
            F.expr(denom.replace("doc_id_sub", "doc_id")).alias("k"),
            F.expr(f"size({TOKENS_SPARK})").alias("n_toks"),
        )
        .groupBy("k")
        .agg(
            F.count("*").cast("bigint").alias("new_docs"),
            F.sum("n_toks").cast("bigint").alias("new_tokens"),
        )
    )
    ks = spark.range(1, VG_POINTS + 1).select(
        F.col("id").cast("bigint").alias("k")
    )
    per = (
        ks.join(F.broadcast(doc_new), "k", "left")
        .join(F.broadcast(vocab_new), "k", "left")
        .select(
            "k",
            F.coalesce("new_docs", F.lit(0)).cast("bigint").alias("nd"),
            F.coalesce("new_tokens", F.lit(0)).cast("bigint").alias("nt"),
            F.coalesce("new_vocab", F.lit(0)).cast("bigint").alias("nv"),
        )
    )
    from pyspark.sql.window import Window

    w = Window.orderBy(F.asc("k")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per.select(
        "k",
        F.sum("nd").over(w).cast("bigint").alias("n_docs_cum"),
        F.sum("nt").over(w).cast("bigint").alias("n_tokens_cum"),
        F.sum("nv").over(w).cast("bigint").alias("vocab_cum"),
    ).select(
        "k", "n_docs_cum", "n_tokens_cum", "vocab_cum",
        F.expr(
            "cast(case when n_tokens_cum > 0 then"
            " vocab_cum * 1000000 div n_tokens_cum end as bigint)"
        ).alias("ttr_ppm"),
    )


def sql_vocab_growth() -> str:
    return f"""
        WITH m AS (
            SELECT MAX(doc_id)::BIGINT AS max_id FROM documents
        ),
        firstdoc AS (
            SELECT tok, MIN(doc_id)::BIGINT AS first_doc
            FROM (SELECT doc_id, unnest({TOKENS_DUCK}) AS tok
                  FROM documents)
            GROUP BY tok
        ),
        vocab_new AS (
            SELECT {_vg_bucket('first_doc', False)}::BIGINT AS k,
                   COUNT(*)::BIGINT AS new_vocab
            FROM firstdoc, m GROUP BY 1
        ),
        doc_new AS (
            SELECT {_vg_bucket('doc_id', False)}::BIGINT AS k,
                   COUNT(*)::BIGINT AS new_docs,
                   SUM(len({TOKENS_DUCK}))::BIGINT AS new_tokens
            FROM documents, m GROUP BY 1
        ),
        ks AS (
            SELECT unnest(generate_series(1, {VG_POINTS}))::BIGINT AS k
        ),
        per AS (
            SELECT ks.k,
                   COALESCE(d.new_docs, 0)::BIGINT AS nd,
                   COALESCE(d.new_tokens, 0)::BIGINT AS nt,
                   COALESCE(v.new_vocab, 0)::BIGINT AS nv
            FROM ks
            LEFT JOIN doc_new d USING (k)
            LEFT JOIN vocab_new v USING (k)
        ),
        cumed AS (
            SELECT k,
                   SUM(nd) OVER (ORDER BY k ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   )::BIGINT AS n_docs_cum,
                   SUM(nt) OVER (ORDER BY k ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   )::BIGINT AS n_tokens_cum,
                   SUM(nv) OVER (ORDER BY k ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   )::BIGINT AS vocab_cum
            FROM per
        )
        SELECT k, n_docs_cum, n_tokens_cum, vocab_cum,
               (CASE WHEN n_tokens_cum > 0
                     THEN vocab_cum * 1000000 // n_tokens_cum
                END)::BIGINT AS ttr_ppm
        FROM cumed
    """


# ---------------------------------------------------------------------------
# corpus_rollup: multi-dimensional datasheet (ROLLUP source, lang)
# ---------------------------------------------------------------------------

def q_corpus_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus datasheet at every aggregation level in one pass:
    GROUP BY ROLLUP(source, lang) — per (source, lang) cell, per
    source, and the grand total, each row tagged with its grouping id
    (0 = cell, 1 = source subtotal, 3 = grand total). The one-shuffle
    replacement for the three separate dashboards a curation report
    stitches together.

    100 TB story: ROLLUP is a single map-side-combinable hash
    aggregate whose key space is (sources x langs) + sources + 1 —
    dimension-sized regardless of corpus rows; Spark plans it as one
    Expand + one Exchange, not three scans. Token counts integerise
    before the sum (bigint), so partial aggregation order is
    irrelevant."""
    docs = read_spread(spark, sf_dir, "documents")
    base = docs.select(
        "source", "lang",
        F.expr(f"cast(size({TOKENS_SPARK}) as bigint)").alias("n_toks"),
        F.col("n_chars").cast("bigint").alias("n_chars"),
    )
    return (
        base.rollup("source", "lang")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("n_tokens"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .select(
            "source", "lang", "gid", "n_docs", "n_tokens", "sum_chars",
        )
    )


def sql_corpus_rollup() -> str:
    return f"""
        WITH base AS (
            SELECT source, lang,
                   len({TOKENS_DUCK})::BIGINT AS n_toks,
                   n_chars::BIGINT AS n_chars
            FROM documents
        )
        SELECT source, lang,
               (GROUPING(source) * 2 + GROUPING(lang))::BIGINT AS gid,
               COUNT(*)::BIGINT AS n_docs,
               SUM(n_toks)::BIGINT AS n_tokens,
               SUM(n_chars)::BIGINT AS sum_chars
        FROM base
        GROUP BY ROLLUP (source, lang)
    """


# ---------------------------------------------------------------------------
# TextTiling topic-boundary detection
# ---------------------------------------------------------------------------

TILE_W = 20  # tokens per tile window


def q_texttiling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextTiling-style topic segmentation (Hearst, CL 1997, reduced
    to its deterministic core): cut each document into fixed
    {TILE_W}-token tiles, score every adjacent tile pair by the
    Jaccard of their token SETS (exact integer micro units), and
    report the below-average valleys as candidate topic boundaries —
    one row per (doc, gap) with the gap's similarity and the doc's
    mean. The lexical-cohesion segmenter a long-document chunker or
    topic-drift detector runs before embedding-based methods exist.

    100 TB story: the ENTIRE computation is per-row array expressions
    — tiling, per-tile distinct, adjacent-pair Jaccard, the per-doc
    mean, and the valley filter all happen inside one projection with
    no explode before the final boundary fan-out (output-sized, not
    tile-sized), no join, no window, no shuffle at all before the
    sink. A 10^6-token document costs one task linear work.
    Reference analog: none (SURVEY.md §2.8)."""
    w = TILE_W
    docs = read_spread(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", F.expr(TOKENS_SPARK).alias("toks")
    ).select(
        "doc_id", "toks",
        F.expr(f"cast(size(toks) div {w} as int)").alias("m"),
    ).where("m >= 2")
    tiled = base.select(
        "doc_id", "m",
        F.expr(
            f"transform(sequence(0, m - 1),"
            f" i -> array_distinct(slice(toks, i * {w} + 1, {w})))"
        ).alias("wins"),
    )
    simmed = tiled.select(
        "doc_id", "m",
        # let-bind the intersection size via a singleton transform
        # (HOF lambdas get no common-subexpression elimination — the
        # dominant per-gap set intersect would otherwise run twice)
        F.expr(
            "transform(sequence(1, m - 1), i ->"
            " transform(array(size(array_intersect(element_at(wins, i),"
            "   element_at(wins, i + 1)))), inter -> named_struct("
            " 'gap', i,"
            " 'jac', cast(inter as bigint) * 1000000 div"
            "  (size(element_at(wins, i))"
            "   + size(element_at(wins, i + 1)) - inter)))[0])"
        ).alias("sims"),
    ).select(
        "doc_id", "m", "sims",
        F.expr(
            "cast(aggregate(sims, cast(0 as bigint),"
            " (acc, s) -> acc + s.jac) div size(sims) as bigint)"
        ).alias("avg_micro"),
    )
    # explode_OUTER, then drop the null rows: a plain explode triggers
    # InferFiltersFromGenerate, whose inferred size(...)>0 predicate is
    # pushed below the tiling projections and INLINES the whole chain —
    # re-splitting the document per tile, O(tokens^2) per row (measured
    # 16 s -> 0.36 s at 1,000-token docs on a fixed 200k-token budget;
    # SCALE.md "Loop-invariant hoisting" has the sweep). The rule skips
    # outer generates, and the null filter on the generator OUTPUT cannot
    # be pushed below the Generate.
    return simmed.select(
        "doc_id",
        F.col("m").cast("bigint").alias("n_tiles"),
        "avg_micro",
        F.explode_outer(
            F.expr("filter(sims, s -> s.jac < avg_micro)")
        ).alias("b"),
    ).where("b is not null").select(
        "doc_id",
        "n_tiles",
        F.col("b.gap").cast("bigint").alias("gap_idx"),
        F.col("b.jac").cast("bigint").alias("sim_micro"),
        "avg_micro",
    )


def sql_texttiling() -> str:
    w = TILE_W
    # same singleton let-binding as the Spark side: the intersect is
    # computed once per gap
    jac = (
        "list_transform([len(list_intersect(wins[i], wins[i + 1]))],"
        " inter -> inter::BIGINT * 1000000"
        " // (len(wins[i]) + len(wins[i + 1]) - inter))[1]"
    )
    return f"""
        WITH base AS (
            SELECT doc_id, toks, (len(toks) // {w})::INT AS m
            FROM (SELECT doc_id, {TOKENS_DUCK} AS toks FROM documents)
        ),
        tiled AS (
            SELECT doc_id, m,
                   list_transform(range(0, m),
                       i -> list_distinct(toks[i * {w} + 1 : i * {w} + {w}]))
                       AS wins
            FROM base WHERE m >= 2
        ),
        simmed AS (
            SELECT doc_id, m,
                   list_transform(range(1, m),
                       i -> struct_pack(gap := i, jac := {jac})) AS sims
            FROM tiled
        ),
        avgd AS (
            SELECT doc_id, m, sims,
                   (list_sum(list_transform(sims, s -> s.jac))
                    // len(sims))::BIGINT AS avg_micro
            FROM simmed
        )
        SELECT doc_id, m::BIGINT AS n_tiles,
               struct_extract(b, 'gap')::BIGINT AS gap_idx,
               struct_extract(b, 'jac')::BIGINT AS sim_micro,
               avg_micro
        FROM (
            SELECT doc_id, m, avg_micro,
                   unnest(list_filter(sims, s -> s.jac < avg_micro)) AS b
            FROM avgd
        )
    """
