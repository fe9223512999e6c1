"""Text analysis operators for training-data pipelines — native Column
expressions (regex, HOFs, hashes), except two Arrow UDFs: the Gopher
n-gram counts (`repetition_metrics`) and the zlib compression ratio.

* token counting      — whitespace tokens + a BPE-ish subword estimate
* quality scoring     — length / punctuation / stopword / repetition ratios
* language ID         — marker-stopword n-gram heuristic, argmax per row
* fingerprinting      — rolling-hash (character-shingle min-hash) document
                        fingerprint for fast copy detection
"""

from __future__ import annotations

from typing import Dict, List

from pyspark.sql import Column, DataFrame, functions as F

from schema_fantasy_spark import pyworker
from schema_fantasy_spark.ops.dedup import tokens_col

# compact marker sets per language (function words; heuristic, documented)
LANG_MARKERS: Dict[str, List[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it", "was", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "für"],
    "fr": ["le", "la", "les", "et", "est", "pas", "une", "dans", "que", "pour"],
    "es": ["el", "la", "los", "de", "que", "es", "en", "un", "por", "con"],
    "ru": ["и", "в", "не", "на", "что", "это", "с", "как", "по", "но"],
    "zh": ["的", "是", "在", "了", "我", "有", "和", "不", "这", "人"],
}

STOPWORDS_EN = LANG_MARKERS["en"] + ["a", "an", "as", "at", "by", "or", "be"]

#: BPE-ish token estimate: word pieces + digits + punctuation runs — a
#: cheap regex proxy for subword tokenizers (counts matches, no Python)
_BPEISH = r"[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\s]"


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens_col(text))


def bpeish_token_count(text: Column) -> Column:
    """Subword-ish token estimate via regex match count (regexp_count is
    codegen'd; ~chars/3.5 for English)."""
    return F.regexp_count(text, F.lit(_BPEISH))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append quality-signal columns (each a single-pass expression).

    The token array materializes once behind a Generate barrier (trap 1:
    plain withColumns let CollapseProject re-inline the tokenization
    into every downstream reference — the r9 before-plan of
    text_features carried 55 copies of the split tree)."""
    from schema_fantasy_spark.ops.dedup import _assert_staging_free, _barrier

    _assert_staging_free(df, "_qf_tk")
    t = F.col(text_col)
    df = _barrier(df, tokens_col(t), "_qf_tk")
    toks = F.col("_qf_tk")
    n_tok = F.size(toks)
    n_chars = F.length(t)
    return (
        df.withColumn("n_chars", n_chars)
        .withColumn("n_tokens", n_tok)
        .withColumn(
            "mean_token_len",
            F.round((n_chars - (n_tok - 1)) / F.greatest(n_tok, F.lit(1)), 4),
        )
        .withColumn(
            "punct_ratio",
            F.round(
                F.regexp_count(t, F.lit(r"[^\w\s]")) / F.greatest(n_chars, F.lit(1)), 6
            ),
        )
        .withColumn(
            "stopword_ratio",
            F.round(
                F.size(F.filter(toks, lambda x: x.isin(STOPWORDS_EN)))
                / F.greatest(n_tok, F.lit(1)),
                6,
            ),
        )
        .withColumn(
            "distinct_token_ratio",
            F.round(F.size(F.array_distinct(toks)) / F.greatest(n_tok, F.lit(1)), 6),
        )
        .drop("_qf_tk")
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Scalar quality score in [0,1]: length sweet-spot x lexical diversity
    x (1 - excess punctuation). A deterministic, documented heuristic —
    the shape (bounded per-signal terms, multiplicative) mirrors common
    web-text quality filters."""
    feat = quality_features(df, text_col)
    len_term = F.least(F.col("n_tokens") / F.lit(20.0), F.lit(1.0))
    div_term = F.col("distinct_token_ratio")
    punct_term = F.greatest(F.lit(0.0), F.lit(1.0) - F.col("punct_ratio") * 4)
    return feat.withColumn(
        "quality_score", F.round(len_term * div_term * punct_term, 6)
    )


def lang_id(df: DataFrame, text_col: str = "text", out_col: str = "lang_pred") -> DataFrame:
    """Marker-word language ID: per language, count distinct marker hits in
    the token set; argmax (ties resolved by language-code order). Rows with
    zero hits get 'und'. Pure Column algebra: one filter/size per language
    over the shared token array (subexpression-eliminated by Catalyst)."""
    from schema_fantasy_spark.ops.dedup import _assert_staging_free, _barrier

    # trap 1: every score appears in greatest() AND in the argmax
    # when-chain — without barriers each reference re-instantiates
    # array_distinct(split(...)) (a dozen tokenization copies in the
    # r9 before-plan). Materialize the distinct-token array once, then
    # the per-language score struct once.
    _assert_staging_free(df, "_li_tk", "_li_sc")
    base = _barrier(
        df, F.array_distinct(tokens_col(F.col(text_col))), "_li_tk"
    )
    toks = F.col("_li_tk")
    codes = sorted(LANG_MARKERS)
    base = _barrier(
        base,
        F.struct(*[
            F.size(
                F.array_intersect(
                    toks,
                    F.array(*[F.lit(m) for m in LANG_MARKERS[code]]),
                )
            ).alias(code)
            for code in codes
        ]),
        "_li_sc",
    )
    scores = [(code, F.col("_li_sc")[code]) for code in codes]
    best = F.greatest(*[s for _, s in scores]) if len(scores) > 1 else scores[0][1]
    # first language (code order) achieving the max, if max > 0
    expr = None
    for code, s in scores:
        cond = s == best
        expr = F.when(cond, code) if expr is None else expr.when(cond, code)
    pred = F.when(best > 0, expr).otherwise(F.lit("und"))
    return base.withColumn(out_col, pred).drop("_li_tk", "_li_sc")


def fingerprint(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram: int = 8,
    out_col: str = "fingerprint",
    method: str = "xxhash64",
) -> DataFrame:
    """Rolling-hash document fingerprint: min hash over character
    ``gram``-shingles (min-hash winnowing, resilient to local edits).
    substr with column offsets via SQL expr — still whole-stage codegen.

    ``method='xxhash64'`` (default): long fingerprint, fastest at scale.
    ``method='md5'``: 64-bit hex-prefix fingerprint as a string —
    bit-reproducible in any engine with md5 (the DuckDB oracle replicates
    it), same min-hash semantics (lexicographic min of fixed-width hex ==
    numeric min)."""
    if method == "md5":
        hashed = f"substr(md5(substr({text_col}, i, {gram})), 1, 16)"
    else:
        hashed = f"xxhash64(substr({text_col}, i, {gram}))"
    shingle_hashes = F.expr(
        f"transform(sequence(1, greatest(length({text_col}) - {gram - 1}, 1)),"
        f" i -> {hashed})"
    )
    return df.withColumn(
        out_col,
        F.when(F.col(text_col).isNull(), None).otherwise(F.array_min(shingle_hashes)),
    )


#: Rae et al. 2021 table-A1 thresholds (word-fraction variants documented
#: per metric below): most-common n-gram fraction for n=2,3,4 and
#: duplicate n-gram CHARACTER fraction for n=5..10
GOPHER_TOP_NGRAM_MAX = {2: 0.20, 3: 0.18, 4: 0.16}
GOPHER_DUP_NGRAM_CHARS_MAX = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}


#: the 16 exact per-document counts of `_repetition_counts`
_REP_FIELDS = (
    [f"top{g}" for g in (2, 3, 4)] + ["dup3"]
    + [f"{k}{g}" for g in range(5, 11) for k in ("tot", "dist")]
)


def _repetition_counts(tk):
    """Arrow kernel over a batch of token arrays (NULL counts as empty).
    Per document: ``top{2,3,4}`` occurrences of the most frequent n-gram,
    ``dup3`` 3-gram occurrences beyond each distinct one's first, and
    ``tot{5..10}`` / ``dist{5..10}`` characters over all / distinct
    n-grams, an n-gram being its tokens joined by one space.

    Vectorized over the batch: the id of the n-gram at token i is the
    ``pd.factorize`` code of (id of the (n-1)-gram at i, id of token
    i+n-1), the document folded into the 1-gram ids, so each n is one
    hash pass over the batch and every per-document figure a bincount."""
    import numpy as np
    import pandas as pd

    pyworker.install()
    n = np.fromiter((0 if t is None else len(t) for t in tk), np.int64, len(tk))
    docs = len(n)
    out = {f: np.zeros(docs, np.int64) for f in _REP_FIELDS}
    flat = np.concatenate([np.empty(0, object), *(t for t in tk if t is not None)])
    tok, uniq = pd.factorize(flat)
    doc = np.repeat(np.arange(docs), n)
    left = np.repeat(np.cumsum(n), n) - np.arange(len(flat))  # tokens to doc end
    cum = np.concatenate(([0], np.cumsum([len(w) for w in flat], dtype=np.int64)))
    gid = pd.factorize(doc * len(uniq) + tok)[0]
    pos = np.arange(len(flat))
    for g in range(2, 11):
        pos = pos[left[pos] >= g]
        if not len(pos):
            break
        codes = pd.factorize(gid[pos] * len(uniq) + tok[pos + g - 1])[0]
        gid[pos] = codes
        d = doc[pos]
        doc_of = np.empty(codes.max() + 1, np.int64)
        doc_of[codes] = d
        if g <= 4:
            np.maximum.at(out[f"top{g}"], doc_of, np.bincount(codes))
        if g == 3:
            out["dup3"] = np.bincount(d, minlength=docs) - np.bincount(doc_of, minlength=docs)
        if g >= 5:
            # float64 bincount sums are exact integers below 2**53
            chars = cum[pos + g] - cum[pos] + (g - 1)
            out[f"tot{g}"] = np.bincount(d, chars, docs).astype(np.int64)
            gram_chars = np.empty(len(doc_of), np.int64)
            gram_chars[codes] = chars
            out[f"dist{g}"] = np.bincount(doc_of, gram_chars, docs).astype(np.int64)
    return pd.DataFrame(out)


def repetition_metrics(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_top_bigram_frac: float = 0.20,
    max_dup_trigram_frac: float = 0.30,
    max_no_alpha_frac: float = 0.20,
    min_words: int = 20,
    max_words: int = 100_000,
    max_symbol_word_ratio: float = 0.10,
    max_bullet_line_frac: float = 0.90,
    max_ellipsis_line_frac: float = 0.30,
) -> DataFrame:
    """Gopher repetition/quality rules over word n-grams — the full
    pre-training corpus filter family (Rae et al. 2021, "Scaling
    Language Models", table A1):

    * ``frac_top_{bigram,trigram,fourgram}`` — occurrences of the most
      frequent 2/3/4-gram over all such n-grams (repetitive boilerplate
      scores high);
    * ``frac_dup_trigrams`` — fraction of 3-grams that are duplicates;
    * ``frac_dup_{5..10}gram_chars`` — fraction of n-gram CHARACTERS
      sitting in duplicate occurrences (each occurrence beyond a gram's
      first), the table-A1 duplicate-n-gram rule;
    * ``frac_no_alpha``    — fraction of words with no ASCII letter;
    * ``symbol_word_ratio`` — '#' / '...' / U+2026 occurrences per word;
    * ``frac_bullet_lines`` / ``frac_ellipsis_lines`` — lines starting
      with a bullet glyph / ending with an ellipsis;
    * ``gopher_pass``      — every threshold holds and the word count is
      in [min_words, max_words].

    One shuffle-free pass. Tokens materialize once behind a Generate
    barrier; tokenization and the word, symbol and line rules are native.
    The n-gram rules are ONE scalar Arrow UDF over the token array
    (`_repetition_counts`, exact integer counts); Spark does every
    division and ``round``, so no float is computed in Python."""
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    from schema_fantasy_spark.ops.dedup import (
        _assert_staging_free, _barrier, _ensure_parallelism, tokens_col,
    )

    src = df.select(F.col(id_col), F.col(text_col))
    _assert_staging_free(src, "_tk", "_rc")
    base = _barrier(
        _ensure_parallelism(src, keys=(id_col,)), tokens_col(F.col(text_col)), "_tk"
    )
    tk = F.col("_tk")
    n = F.size(tk)
    schema = ", ".join(f"{f} long" for f in _REP_FIELDS)
    # explicit PandasUDFType: trap 5 (`from __future__ import annotations`)
    counts = pandas_udf(schema, PandasUDFType.SCALAR)(_repetition_counts)
    based = base.select("*", counts(tk).alias("_rc"))

    def per_gram(count: Column, g: int) -> Column:
        n_grams = F.greatest(n - (g - 1), F.lit(0))
        return F.round(count / F.greatest(n_grams, F.lit(1)), 6)

    def dup_chars_frac(g: int) -> Column:
        tot = F.col(f"_rc.tot{g}")
        return F.round(
            (tot - F.col(f"_rc.dist{g}")) / F.greatest(tot, F.lit(1)), 6
        )

    t = F.col(text_col)
    no_alpha = F.size(F.filter(tk, lambda w: ~w.rlike("[a-z]")))
    lines = F.split(t, "\n")
    n_lines = F.size(lines)
    bullet_lines = F.size(F.filter(lines, lambda l: l.rlike(r"^\s*[-*•‣▪]")))
    ellipsis_lines = F.size(F.filter(lines, lambda l: l.rlike(r"(\.\.\.|…)\s*$")))
    cols = [
        F.col(id_col),
        n.alias("n_words"),
        per_gram(F.col("_rc.top2"), 2).alias("frac_top_bigram"),
        per_gram(F.col("_rc.top3"), 3).alias("frac_top_trigram"),
        per_gram(F.col("_rc.top4"), 4).alias("frac_top_fourgram"),
        per_gram(F.col("_rc.dup3"), 3).alias("frac_dup_trigrams"),
        *[dup_chars_frac(g).alias(f"frac_dup_{g}gram_chars") for g in range(5, 11)],
        F.round(no_alpha / F.greatest(n, F.lit(1)), 6).alias("frac_no_alpha"),
        F.round(
            F.regexp_count(t, F.lit(r"#|\.\.\.|…")) / F.greatest(n, F.lit(1)), 6
        ).alias("symbol_word_ratio"),
        F.round(bullet_lines / F.greatest(n_lines, F.lit(1)), 6).alias(
            "frac_bullet_lines"
        ),
        F.round(ellipsis_lines / F.greatest(n_lines, F.lit(1)), 6).alias(
            "frac_ellipsis_lines"
        ),
    ]
    out = based.select(*cols)
    checks = (
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words)
        & (F.col("frac_top_bigram") <= max_top_bigram_frac)
        & (F.col("frac_top_trigram") <= GOPHER_TOP_NGRAM_MAX[3])
        & (F.col("frac_top_fourgram") <= GOPHER_TOP_NGRAM_MAX[4])
        & (F.col("frac_dup_trigrams") <= max_dup_trigram_frac)
        & (F.col("frac_no_alpha") <= max_no_alpha_frac)
        & (F.col("symbol_word_ratio") <= max_symbol_word_ratio)
        & (F.col("frac_bullet_lines") <= max_bullet_line_frac)
        & (F.col("frac_ellipsis_lines") <= max_ellipsis_line_frac)
    )
    for g in range(5, 11):
        checks = checks & (
            F.col(f"frac_dup_{g}gram_chars") <= GOPHER_DUP_NGRAM_CHARS_MAX[g]
        )
    return out.withColumn("gopher_pass", checks)


def filter_funnel(df: DataFrame, rules) -> DataFrame:
    """Sequential quality-filter FUNNEL with per-rule drop accounting —
    the report every corpus-cleaning pipeline needs ("how many docs did
    each rule cost?"). ``rules`` is an ordered list of (name, Column
    predicate); a row must pass every earlier rule to reach rule i.

    Returns one row per rule: (stage, rule, n_in, n_dropped, n_out).

    Scale shape: ONE aggregation job for the whole funnel — the chained
    survival flags are cheap boolean expressions evaluated in a single
    scan pass (no per-rule job, no shuffle beyond the final 1-row agg);
    NULL predicate results drop the row (SQL filter semantics).
    """
    flags = []
    surv = F.lit(True)
    for name, cond in rules:
        passed = surv & F.coalesce(cond, F.lit(False))
        flags.append((name, surv, passed))
        surv = passed
    aggs = []
    for i, (_, s_in, s_out) in enumerate(flags):
        aggs.append(F.sum(s_in.cast("long")).alias(f"_in{i}"))
        aggs.append(F.sum(s_out.cast("long")).alias(f"_out{i}"))
    row = df.agg(*aggs)
    def _sql_str(s: str) -> str:
        # Spark SQL string literals use backslash escapes (escapedString
        # Literals=false default): escape backslash first, then quote
        return s.replace("\\", "\\\\").replace("'", "\\'")

    stack_args = ", ".join(
        "{}, '{}', _in{}, _out{}".format(i, _sql_str(name), i, i)
        for i, (name, _, _) in enumerate(flags)
    )
    out = row.selectExpr(
        f"stack({len(flags)}, {stack_args}) AS (stage, rule, n_in, n_out)"
    )
    return out.select(
        "stage", "rule",
        F.coalesce("n_in", F.lit(0)).alias("n_in"),
        (F.coalesce("n_in", F.lit(0)) - F.coalesce("n_out", F.lit(0))).alias("n_dropped"),
        F.coalesce("n_out", F.lit(0)).alias("n_out"),
    )


def blocklist_pattern(words) -> str:
    """One case-insensitive word-boundary alternation for a term list
    (the C4 "bad words" filter shape — single words AND multi-word
    phrases; longer terms first so a phrase wins over its own prefix
    word). The list is data: ship the deployment's own (C4 uses the
    LDNOOBW list; the tests use neutral placeholders)."""
    import re as _re

    alts = "|".join(
        _re.escape(w).replace(r"\ ", r"\s+")
        for w in sorted(words, key=lambda w: (-len(w), w))
    )
    return r"(?i)\b(?:" + alts + r")\b"


def blocklist_hits(text: Column, words) -> Column:
    """How many times any listed term occurs in ``text`` (0 for NULL).
    One codegen'd ``regexp_count`` — no Python, no join: even a
    several-hundred-term list compiles to a single scan-bandwidth
    automaton, which is why C4 can afford to run it on every page."""
    return F.coalesce(
        F.regexp_count(text, F.lit(blocklist_pattern(words))), F.lit(0)
    )


def blocklist_filter(
    df: DataFrame, words, text_col: str = "text",
    hits_col: str = "blocklist_hits", flag_col: str = "blocklisted",
) -> DataFrame:
    """Append the hit count and the C4-style drop flag (ANY listed term
    blocks the page). Compose with `filter_funnel` for accounting."""
    hits = blocklist_hits(F.col(text_col), words)
    return df.withColumn(hits_col, hits).withColumn(flag_col, hits > 0)


def with_compression_ratio(
    df: DataFrame, text_col: str = "text", out_col: str = "zlib_ratio6",
) -> DataFrame:
    """Append the zlib compression ratio — the CCNet/Gopher-family
    quality signal (machine-generated and template text compresses far
    below natural prose; near-random spam barely compresses).

    ``ratio = compressed_bytes * 10^6 // utf8_bytes`` as an INTEGER in
    millionths (the repo's quantization discipline); NULL/empty text ->
    NULL. zlib level 6, raw deflate container — the value is defined by
    the DEFLATE spec + fixed level, so it is stable across platforms.

    This is the ONE quality feature that cannot be a Column expression
    (no codec in Catalyst), so it rides the Arrow lane: a vectorized
    pandas_udf, partition-preserving, no shuffle — batch it with other
    features rather than running it alone. Not oracle-gated (DuckDB has
    no zlib); pytest pins exact values against Python zlib."""
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit PandasUDFType: this module's `from __future__ import
    # annotations` stringifies type hints, which breaks pandas_udf
    # signature inference (CLAUDE.md trap 5)
    @pandas_udf("long", PandasUDFType.SCALAR)
    def _ratio(s):
        import zlib

        pyworker.install()

        def one(t):
            if t is None:
                return None
            b = t.encode("utf-8")
            if not b:
                return None
            return len(zlib.compress(b, 6)) * 1_000_000 // len(b)

        return s.map(one, na_action="ignore").astype("object")

    return df.withColumn(out_col, _ratio(F.col(text_col)))


#: soft-404 marker families (title/body), case-insensitive: pages that
#: SAY not-found while the transport said 200 — a crawl keeps millions
#: of these unless filtered. Patterns are data; extend per deployment.
_SOFT404 = (
    r"(?i)\b(?:404|page|file|document)\s+(?:not\s+found|does\s*n[o']t"
    r"\s+exist)|(?i)\berror\s+404\b|(?i)\bno\s+longer\s+available\b"
    r"|(?i)\bpage\s+(?:has\s+)?(?:been\s+)?(?:removed|moved|deleted)\b"
)


def soft404_flag(title: Column, text: Column) -> Column:
    """TRUE when the page self-reports not-found (soft 404): marker in
    the title (high precision), or in the body of a SHORT page (< 500
    chars — long pages legitimately discuss 404s). Pure codegen."""
    t_hit = F.coalesce(title, F.lit("")).rlike(_SOFT404)
    b_hit = (
        F.coalesce(text, F.lit("")).rlike(_SOFT404)
        & (F.coalesce(F.length(text), F.lit(0)) < 500)
    )
    return t_hit | b_hit
