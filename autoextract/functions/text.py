"""Text-analysis column expressions — pure ``pyspark.sql.functions``.

Everything here is JVM-side (whole-stage-codegen eligible): tokenization,
shingling, MinHash signatures, language-ID scores, quality metrics, token
counting and fingerprinting are all built from Spark built-ins, never Python
UDFs (SURVEY.md §2.8: the reference's scalar surface maps 1:1 to built-ins;
the training-data operators extend that same discipline).

These are the building blocks a 100 TB training-data pipeline runs per
document; keeping them codegen'd is the difference between a scan-speed pass
and a Python-bound one.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..operators._docwise import map_rows

# ----------------------------------------------------------------------
# tokenization
# ----------------------------------------------------------------------


def tokens(text: Column | str) -> Column:
    """Whitespace tokens (empty-safe)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(c), r"\s+")


def word_count(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.when(F.length(F.trim(c)) == 0, F.lit(0)).otherwise(
        F.size(tokens(c))
    )


#: BPE-ish lexer: letter runs, digit runs, single punctuation — a cheap,
#: deterministic proxy for subword token counts.
BPE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_token_count(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(BPE_PATTERN), 0))


# ----------------------------------------------------------------------
# shingling + MinHash (dedup building blocks)
# ----------------------------------------------------------------------


def shingles_of_tokens(tokens_col: Column, k: int = 3) -> Column:
    """Word ``k``-gram shingles over an ALREADY-MATERIALIZED token-array
    column. Use this form whenever the same row also needs another
    token-derived expression: referencing an attribute keeps each lambda
    tiny, while inlining ``split()`` into every HOF element (what
    ``shingles`` over raw text compiles to) duplicates a large codegen tree
    — two such trees in one stage overflow the codegen budget and drop the
    whole stage to interpreted HOF evaluation (measured 20× slower)."""
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(tokens_col) - (k - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(tokens_col, i, k)),
    )


def shingles(text: Column | str, k: int = 3) -> Column:
    """Word ``k``-gram shingles. Docs shorter than ``k`` tokens yield one
    shingle covering the whole doc (parity contract with the DuckDB oracle:
    ``l[i:i+k-1]`` over ``range(1, greatest(len(l)-k+1, 1)+1)``)."""
    return shingles_of_tokens(tokens(text), k)


def minhash_signature(shingle_col: Column, n_hashes: int = 8) -> Column:
    """Array of ``n_hashes`` MinHash values.

    Hash family: ``md5(i || shingle)`` with the seed index prepended —
    portable (identical in DuckDB for the oracle) and deterministic. At
    production scale swap md5 for ``xxhash64(shingle, seed)`` (cheaper,
    same structure) — the md5 choice here is for cross-engine verifiability.
    """
    def _seeded(i: int):
        # NB: a 2-arg lambda would make F.transform pass the array index as
        # the second argument — the seed must be bound via closure instead.
        return lambda s: F.md5(F.concat(F.lit(str(i)), s))

    return F.array(
        *[F.array_min(F.transform(shingle_col, _seeded(i))) for i in range(n_hashes)]
    )


def minhash_bands(sig_col: Column, n_bands: int, rows_per_band: int) -> Column:
    """Band keys for LSH: concat ``rows_per_band`` consecutive signature
    entries per band. Docs sharing any band key are near-dup candidates."""
    return F.array(
        *[
            F.concat_ws(
                "|",
                F.lit(str(b)),
                *[
                    F.element_at(sig_col, b * rows_per_band + r + 1)
                    for r in range(rows_per_band)
                ],
            )
            for b in range(n_bands)
        ]
    )


# ----------------------------------------------------------------------
# language ID (n-gram/stopword heuristic)
# ----------------------------------------------------------------------

#: tiny per-language stopword marker sets (expressible as word-boundary
#: regexes in both Spark/Java and DuckDB/RE2 for oracle parity)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "is", "to"],
    "de": ["und", "der", "die", "das", "nicht"],
    "fr": ["le", "la", "les", "et", "est"],
    "es": ["el", "los", "las", "es", "y"],
}


def lang_score(text: Column | str, lang: str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    pattern = r"\b(" + "|".join(LANG_MARKERS[lang]) + r")\b"
    return F.size(F.regexp_extract_all(F.lower(c), F.lit(pattern), 0)).cast("long")


def lang_guess(text: Column | str) -> Column:
    """argmax over language scores; deterministic tie-break by language code
    order (earliest code wins; ``und`` iff every score is 0).

    Shape (r6): one ``array_max`` over ``struct(score, rank, code)`` entries
    — struct comparison orders by score then rank, so each language's
    regexp score is evaluated ONCE per row. The previous nested when-chain
    referenced each score expression in every later comparison, doubling
    the regexp expression tree per language (~16× the marker scans at four
    languages; guide §1.2 "per-task work"). The ``und`` sentinel rides in
    the same array: score 0 with top rank, so it wins exactly when all real
    scores are 0 (marker counts are never negative)."""
    c = F.col(text) if isinstance(text, str) else text
    langs = sorted(LANG_MARKERS)
    entries = [
        F.struct(
            F.lit(0).cast("long").alias("s"),
            F.lit(len(langs)).cast("int").alias("rk"),
            F.lit("und").alias("code"),
        )
    ]
    # rank descends with code order so the alphabetically-earliest code
    # wins score ties (the former >=-chain's behavior)
    for i, lang in enumerate(langs):
        entries.append(
            F.struct(
                lang_score(c, lang).alias("s"),
                F.lit(len(langs) - 1 - i).cast("int").alias("rk"),
                F.lit(lang).alias("code"),
            )
        )
    return F.array_max(F.array(*entries))["code"]


# ----------------------------------------------------------------------
# quality scoring
# ----------------------------------------------------------------------


def quality_metrics(text: Column | str) -> dict[str, Column]:
    """The classic cheap quality signals (Gopher/C4-style rules, re-derived):
    length, mean word length, alpha ratio, punctuation density, stopword
    presence. Returns named columns; ``quality_keep`` is the combined gate."""
    c = F.col(text) if isinstance(text, str) else text
    n_chars = F.length(c).cast("long")
    n_words = word_count(c).cast("long")
    mean_word_len = F.when(n_words > 0, (n_chars - n_words + 1) / n_words).otherwise(
        F.lit(0.0)
    )
    alpha_chars = F.length(F.regexp_replace(c, r"[^A-Za-z]", "")).cast("long")
    alpha_ratio = F.when(n_chars > 0, alpha_chars / n_chars).otherwise(F.lit(0.0))
    punct_chars = F.length(F.regexp_replace(c, r"[^.,;:!?]", "")).cast("long")
    punct_ratio = F.when(n_chars > 0, punct_chars / n_chars).otherwise(F.lit(0.0))
    stop_hits = lang_score(c, "en")
    stop_ratio = F.when(n_words > 0, stop_hits / n_words).otherwise(F.lit(0.0))
    keep = (
        (n_words >= 10)
        & (mean_word_len >= 2.0)
        & (mean_word_len <= 12.0)
        & (alpha_ratio >= 0.6)
        & (punct_ratio <= 0.2)
    )
    return {
        "n_chars": n_chars,
        "n_words": n_words,
        "mean_word_len": F.round(mean_word_len, 4),
        "alpha_ratio": F.round(alpha_ratio, 4),
        "punct_ratio": F.round(punct_ratio, 4),
        "stopword_ratio": F.round(stop_ratio, 4),
        "quality_keep": keep,
    }


# ----------------------------------------------------------------------
# fingerprinting
# ----------------------------------------------------------------------


def fingerprint(text: Column | str) -> Column:
    """Normalized-content fingerprint: lowercase, collapse non-alnum runs,
    md5. Two docs differing only in punctuation/case/whitespace collide —
    the standard exact-dedup key after normalization."""
    c = F.col(text) if isinstance(text, str) else text
    normalized = F.trim(F.regexp_replace(F.lower(c), r"[^a-z0-9]+", " "))
    return F.md5(normalized)


# ----------------------------------------------------------------------
# PII redaction (training-data scrubbing; pure JVM regexp_replace)
# ----------------------------------------------------------------------

#: deliberately common-subset regex (Java regex ∩ RE2) so the DuckDB oracle
#: runs the IDENTICAL patterns; conservative by design — a training-data
#: scrubber prefers false positives on emails/IPs and requires an explicit
#: +country prefix for phones to avoid eating ordinary numbers
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_PATTERN = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
PHONE_PATTERN = r"\+\d{1,3}[- ]?\d{3}[- ]?\d{3,4}(?:[- ]?\d{3,4})?"


def redact_pii(text: Column | str) -> Column:
    """Replace emails → ``<EMAIL>``, IPv4 → ``<IP>``, +prefixed phones →
    ``<PHONE>``. Order matters: emails first (their domains would otherwise
    partially match nothing, but an IP-looking local part must already be
    gone), then IPs, then phones."""
    c = F.col(text) if isinstance(text, str) else text
    c = F.regexp_replace(c, EMAIL_PATTERN, "<EMAIL>")
    c = F.regexp_replace(c, IPV4_PATTERN, "<IP>")
    return F.regexp_replace(c, PHONE_PATTERN, "<PHONE>")


def pii_counts(text: Column | str) -> dict[str, Column]:
    """Per-doc counts of each PII class (audit table / drop-threshold
    input)."""
    c = F.col(text) if isinstance(text, str) else text
    return {
        "n_emails": F.size(F.regexp_extract_all(c, F.lit(EMAIL_PATTERN), 0)),
        "n_ips": F.size(F.regexp_extract_all(c, F.lit(IPV4_PATTERN), 0)),
        "n_phones": F.size(F.regexp_extract_all(c, F.lit(PHONE_PATTERN), 0)),
    }


# ----------------------------------------------------------------------
# repetition metrics (Gopher-style quality rules)
# ----------------------------------------------------------------------


def repetition_metrics(docs, n: int = 2, id_col: str = "doc_id", text_col: str = "text"):
    """Per-doc repetition statistics, the Gopher repetition family adapted
    to word n-grams:

      * ``top_gram_frac`` — occurrences of the single most frequent word
        ``n``-gram / total n-grams (templated/boilerplate docs score high);
      * ``dup_token_frac`` — fraction of token occurrences whose token
        appears ≥ 2× in the doc.

    Shape at 100 TB: explode n-grams (constant factor over tokens), ONE
    partial-aggregating shuffle on (doc_id, gram), then a per-doc
    re-aggregation riding the same doc_id keys. The gram strings are short
    and low-cardinality per doc; raw text never shuffles.
    """
    toks = tokens(F.col(text_col))
    grams = docs.select(
        id_col, F.explode(shingles_of_tokens(toks, k=n)).alias("gram")
    )
    per_gram = grams.groupBy(id_col, "gram").agg(F.count("*").alias("c"))
    gram_stats = per_gram.groupBy(id_col).agg(
        F.sum("c").cast("long").alias("n_grams"),
        F.round(F.max("c") / F.sum("c"), 6).alias("top_gram_frac"),
    )
    tok_rows = docs.select(id_col, F.explode(toks).alias("tok"))
    per_tok = tok_rows.groupBy(id_col, "tok").agg(F.count("*").alias("c"))
    tok_stats = per_tok.groupBy(id_col).agg(
        F.round(
            F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(F.lit(0)))
            / F.sum("c"),
            6,
        ).alias("dup_token_frac")
    )
    return gram_stats.join(tok_stats, id_col)


#: fixed stand-in weights for the model-based quality classifier — the
#: plumbing contract (feature vector, score expression, keep gate) is the
#: deliverable; a production run swaps TRAINED weights in via this dict (or
#: a broadcast map for per-domain weight sets) without touching the plan.
QUALITY_CLF_WEIGHTS = {
    "bias": -1.0,
    "mean_word_len": 1.5,  # over mean_word_len / 10
    "alpha_ratio": 2.0,
    "punct_ratio": -3.0,
    "stopword_ratio": 2.5,
    "log_words": 1.0,  # over ln(1 + n_words) / 10
}


def quality_classifier(docs, id_col: str = "doc_id", text_col: str = "text"):
    """Model-based quality scoring (the DCLM/fastText-classifier stage of a
    modern data pipeline) as one codegen'd projection: a logistic model
    over the rule-based quality features,

        qscore = sigmoid(b + Σ w_i · f_i),   keep = qscore ≥ 0.5.

    The features are the ROUNDED outputs of :func:`quality_metrics`
    (exactly engine-portable already), so the only float work on top is
    the dot product + sigmoid over identical inputs — a 6-dp round makes
    the score itself oracle-comparable. Weights are deterministic stand-ins
    (see :data:`QUALITY_CLF_WEIGHTS`); training them is an offline concern
    by design — the reference's analogue is an external model endpoint,
    and the Spark-side contract (feature extraction, scoring plan, gate)
    is identical whichever weights ride in. Zero shuffles, zero Python.
    """
    w = QUALITY_CLF_WEIGHTS
    m = quality_metrics(F.col(text_col))
    z = (
        F.lit(w["bias"])
        + F.lit(w["mean_word_len"]) * (m["mean_word_len"] / 10.0)
        + F.lit(w["alpha_ratio"]) * m["alpha_ratio"]
        + F.lit(w["punct_ratio"]) * m["punct_ratio"]
        + F.lit(w["stopword_ratio"]) * m["stopword_ratio"]
        + F.lit(w["log_words"]) * (F.log(F.lit(1.0) + m["n_words"]) / 10.0)
    )
    qscore = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    return docs.select(
        id_col,
        qscore.alias("qscore"),
        (qscore >= 0.5).alias("clf_keep"),
    )


def unigram_cross_entropy(docs, id_col: str = "doc_id", text_col: str = "text"):
    """Per-doc cross-entropy against the corpus's own unigram LM — the
    CCNet-style perplexity quality signal without an external model: a
    document of common words scores low, word-soup/garbage scores high,
    and the score is fully deterministic (no trained weights).

      H(d) = -mean over tokens t of ln( count(t) / total_tokens )

    Two passes, both shuffle-light at 100 TB: (1) the unigram table is ONE
    partially-aggregated count on short token keys — vocab is sublinear in
    corpus size (Heaps' law), so the result is a small table; (2) the
    per-doc score joins tokens to that table and re-aggregates on doc_id.
    The token→logprob join is broadcastable whenever the vocab fits (a
    100 TB natural-language corpus has ~10^7-10^8 unigrams — tens of MB
    as hashes); the fallback is a plain shuffle join on the token key.
    Returns ``(doc_id, n_tokens, cross_entropy)`` with the score rounded
    to 6 dp (a float-sum-order guard for the engine-parity oracle).
    """
    from pyspark.sql import Window

    # r6 one-pass shape. The previous lazy plan evaluated the corpus
    # explode twice (count table + score join) and shuffled the full token
    # stream through a token-key join. Now: the grand total is an EAGER
    # narrow pass (sum of per-doc sizes — no explode, no shuffle; a
    # bounded scalar, computed within the query like the DSIR censuses),
    # tokens explode ONCE into per-(doc, token) counts, the global count
    # attaches via a window sum over the token partition (compact rows,
    # one exchange), and the per-doc score is a weighted mean. Σc·ln(p)/Σc
    # equals the former avg-over-occurrences up to float sum order — the
    # 6-dp round absorbs it (verified old-vs-new at sf0.001–1.0).
    tokf = F.filter(tokens(F.col(text_col)), lambda x: x != F.lit(""))
    total = float(
        docs.select(F.sum(F.size(tokf)).alias("t")).first()["t"] or 0
    )
    # explode_outer + isNotNull, not bare explode: a bare explode lets
    # InferFiltersFromGenerate inline the tokenize chain into a per-row
    # size()>0 predicate (one extra tokenize per row); the null filter on
    # the generated attribute is free
    tok_rows = docs.select(
        id_col, F.explode_outer(tokf).alias("tok")
    ).where(F.col("tok").isNotNull())
    tokc = tok_rows.groupBy(id_col, "tok").agg(
        F.count("*").cast("double").alias("c")
    )
    cnt = F.sum("c").over(Window.partitionBy("tok"))
    scored = tokc.withColumn("lp", F.log(cnt / F.lit(total)))
    return scored.groupBy(id_col).agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.round(
            -(F.sum(F.col("c") * F.col("lp")) / F.sum("c")), 6
        ).alias("cross_entropy"),
    )


def bigram_cross_entropy(
    docs, id_col: str = "doc_id", text_col: str = "text", lam: float = 0.75
):
    """Per-doc cross-entropy against the corpus's own INTERPOLATED bigram
    LM — one order above :func:`unigram_cross_entropy`, catching locally
    scrambled text (every word common, transitions nonsense) that the
    unigram signal scores as clean:

      H(d) = -mean over adjacent pairs (p, c) of
             ln( λ·cnt2(p,c)/ctx(p) + (1-λ)·cnt1(c)/total )

    where ``ctx(p) = Σ_c cnt2(p, c)`` (contexts derived from the bigram
    table itself, so the definition is self-contained and exactly
    oracle-replayable). Docs with <2 tokens produce no row.

    Scale shape: bigrams come from ``arrays_zip(slice, slice)`` — pure
    expression, NO positional self-join; the bigram vocabulary aggregate
    partial-combines on short (prev, cur) keys (bigram types are sublinear
    in corpus size); the context table is a re-agg of that small table,
    never of the corpus; the score join carries token keys only. Rounded
    to 6 dp (float-sum-order guard, same as the unigram oracle).
    """
    from pyspark.sql import Window

    # r6 one-pass-per-stream shape. The previous lazy plan evaluated the
    # bigram explode three times (pair census, context re-agg, score join)
    # and the token explode twice, then shuffled the full bigram stream
    # through three joins. Now: tokens land in a column once; the grand
    # total is an eager narrow pass (no explode — same bounded-scalar
    # pattern as the DSIR censuses); bigrams explode ONCE into per-(doc,
    # prev, cur) counts; cnt2 and ctx attach via two window sums over the
    # same exchange (hash(prev) satisfies both partitionings, so the
    # second window adds no shuffle); only cnt1 needs the token stream,
    # as a compact (token, count) census joined on ``cur``. The per-doc
    # score is the weighted mean Σc·ln(p)/Σc — equal to the former
    # avg-over-occurrences up to float sum order, absorbed by the 6-dp
    # round (verified old-vs-new at sf0.001–1.0).
    tk = docs.select(
        F.col(id_col),
        F.filter(tokens(F.col(text_col)), lambda x: x != F.lit("")).alias(
            "_tk"
        ),
    )
    total = float(tk.select(F.sum(F.size("_tk"))).first()[0] or 0)
    bg = tk.where(F.size("_tk") >= 2).select(
        id_col,
        F.transform(
            F.sequence(F.lit(1), F.size("_tk") - 1),
            lambda i: F.struct(
                F.element_at(F.col("_tk"), i).alias("prev"),
                F.element_at(F.col("_tk"), i + 1).alias("cur"),
            ),
        ).alias("_bg"),
    )
    # explode_outer: _bg is never empty for n ≥ 2 rows, and a bare explode
    # triggers the InferFiltersFromGenerate chain-inlining trap
    big_rows = bg.select(id_col, F.explode_outer("_bg").alias("z")).select(
        id_col, F.col("z.prev").alias("prev"), F.col("z.cur").alias("cur")
    )
    bigc = big_rows.groupBy(id_col, "prev", "cur").agg(
        F.count("*").cast("double").alias("c")
    )
    w_p = Window.partitionBy("prev")
    w_pc = Window.partitionBy("prev", "cur")
    attached = bigc.select(
        id_col,
        "cur",
        "c",
        F.sum("c").over(w_pc).alias("cnt2"),
        F.sum("c").over(w_p).alias("ctx"),
    )
    tok_rows = tk.select(
        id_col, F.explode_outer("_tk").alias("tok")
    ).where(F.col("tok").isNotNull())
    cnt1 = tok_rows.groupBy("tok").agg(
        F.count("*").cast("double").alias("cnt1")
    )
    p = F.lit(float(lam)) * F.col("cnt2") / F.col("ctx") + F.lit(
        1.0 - float(lam)
    ) * F.col("cnt1") / F.lit(total)
    return (
        attached.join(cnt1, F.col("cur") == F.col("tok"))
        .groupBy(id_col)
        .agg(
            F.sum("c").cast("long").alias("n_bigrams"),
            F.round(-(F.sum(F.col("c") * F.log(p)) / F.sum("c")), 6).alias(
                "cross_entropy"
            ),
        )
    )


def corpus_stats(
    docs,
    group_col: str = "source",
    text_col: str = "text",
    approx: bool = False,
):
    """Per-group corpus report: doc count, mean char length, exact p50/p90
    token counts, distinct languages — the rollup a pipeline run prints
    per source before/after each cleaning stage.

    ``approx=False`` uses exact ``percentile`` (linear interpolation, the
    same method as DuckDB's ``quantile_cont`` — this is the driver-oracle
    anchor). At 100 TB exact percentiles hold per-group value buffers, so
    the scale path is ``approx=True`` → ``approx_percentile`` (t-digest
    style bounded memory, same plan shape, no oracle parity).
    One partial-agg shuffle on the group key; the token count is a
    ``size(split(...))`` projection — the tokens are never exploded.
    """
    wc = F.size(F.filter(tokens(F.col(text_col)), lambda x: x != F.lit("")))
    pct = (
        (lambda c, p: F.approx_percentile(c, F.lit(p)))
        if approx
        else (lambda c, p: F.percentile(c, F.lit(p)))
    )
    base = docs.select(group_col, "lang", "n_chars", wc.alias("wc"))
    return base.groupBy(group_col).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        F.round(pct(F.col("wc"), 0.5).cast("double"), 6).alias("p50_tokens"),
        F.round(pct(F.col("wc"), 0.9).cast("double"), 6).alias("p90_tokens"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
    )


# ----------------------------------------------------------------------
# the composed corpus filter (what a training-data run actually applies)
# ----------------------------------------------------------------------

#: filter thresholds — one place, mirrored verbatim in the DuckDB oracle
FILTER_TARGET_LANG = "en"
FILTER_MAX_TOP_GRAM_FRAC = 0.2
FILTER_MAX_DUP_TOKEN_FRAC = 0.5


def document_filter(docs, id_col: str = "doc_id", text_col: str = "text"):
    """Per-doc keep/reject decision composing the whole quality family:
    language == target, the quality_keep heuristics, repetition bounds
    (Gopher-style), and zero PII hits. ``reject_reason`` names the FIRST
    failing rule in a fixed order (lang → quality → repetition → pii) so
    downstream drop-audits aggregate deterministically.

    Plan shape: the scalar rules are one codegen'd projection over the scan;
    only the repetition stats join in (two short-key partial-agg shuffles,
    see ``repetition_metrics``). Raw text never shuffles.
    """
    c = F.col(text_col)
    q = quality_metrics(c)
    p = pii_counts(c)
    scalar = docs.select(
        id_col,
        lang_guess(c).alias("__lang"),
        q["quality_keep"].alias("__q"),
        (p["n_emails"] + p["n_ips"] + p["n_phones"]).alias("__pii"),
    )
    rep = repetition_metrics(docs, n=2, id_col=id_col, text_col=text_col).select(
        id_col, "top_gram_frac", "dup_token_frac"
    )
    j = scalar.join(rep, id_col)
    rep_ok = (F.col("top_gram_frac") <= FILTER_MAX_TOP_GRAM_FRAC) & (
        F.col("dup_token_frac") <= FILTER_MAX_DUP_TOKEN_FRAC
    )
    keep = (
        (F.col("__lang") == FILTER_TARGET_LANG)
        & F.col("__q")
        & rep_ok
        & (F.col("__pii") == 0)
    )
    reason = (
        F.when(F.col("__lang") != FILTER_TARGET_LANG, "lang")
        .when(~F.col("__q"), "quality")
        .when(~rep_ok, "repetition")
        .when(F.col("__pii") > 0, "pii")
        .otherwise(F.lit(None).cast("string"))
    )
    return j.select(
        id_col, keep.alias("keep"), reason.alias("reject_reason")
    )


def chunk_documents(
    docs,
    chunk_tokens: int = 64,
    overlap: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Sliding-window document chunking (r5) — the embedding/context-window
    preprocessing step: each doc becomes ⌈(n-overlap)/(chunk-overlap)⌉
    chunks of ``chunk_tokens`` whitespace tokens with ``overlap`` tokens
    shared between neighbours (the final chunk is the short tail). Pure
    JVM expressions — transform over a stride sequence, then posexplode;
    zero Python, one Generate, no shuffle at all."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(toks)
    n_chunks = F.greatest(
        F.ceil((n - F.lit(overlap)) / stride).cast("int"), F.lit(1)
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(F.slice(toks, i * stride + 1, chunk_tokens), " "),
    )
    return docs.select(
        F.col(id_col),
        F.posexplode(chunks).alias("chunk_idx", "chunk_text"),
    ).withColumn(
        "n_tokens",
        F.size(F.split(F.col("chunk_text"), r"\s+")).cast("long"),
    )


def train_val_split(
    docs,
    val_pct: int = 10,
    salt: str = "split-v1",
    id_col: str = "doc_id",
):
    """Deterministic, engine-portable train/validation assignment (r5):
    ``md5(doc_id ‖ salt)`` bucketed mod 100 — reproducible across runs,
    clusters AND engines (the md5 family is the repo's portable hash;
    xxhash64 does not exist in DuckDB), stable under corpus growth (a
    doc's split never depends on other rows), and re-saltable for fresh
    splits. Returns ``(doc_id, bucket, split)``."""
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))), 1, 8),
            16,
            10,
        ).cast("long")
        % 100
    )
    return docs.select(
        F.col(id_col),
        bucket.cast("long").alias("bucket"),
        F.when(bucket < val_pct, F.lit("val")).otherwise(F.lit("train")).alias("split"),
    )


#: script detection classes, in deterministic dominance-tiebreak order.
#: Java (Spark) spells the property \p{IsXxx}; RE2 (DuckDB) \p{Xxx} —
#: the oracle uses the RE2 spelling of the SAME Unicode script property.
SCRIPT_CLASSES = ["Latin", "Cyrillic", "Greek", "Arabic", "Hebrew", "Han",
                  "Hangul", "Hiragana", "Katakana", "Devanagari"]


def script_profile(docs, id_col: str = "doc_id", text_col: str = "text"):
    """Unicode-script census per document: letter counts and fractions for
    the ten major scripts plus a deterministic ``dominant_script`` — the
    routing signal a multilingual pipeline keys on BEFORE language ID
    (script is cheap and unambiguous; language needs models).

    One codegen'd projection: ``regexp_count`` per script class over the
    text, zero shuffles, zero Python.  Fractions are of the total counted
    letters (not string length, so digits/punct don't dilute), rounded to
    6 dp for engine-portable hashing; documents with no letters in any
    class get fraction 0 and dominant ``none``.  Ties break by the fixed
    ``SCRIPT_CLASSES`` order (Latin first) — deterministic across runs and
    engines.
    """
    t = F.col(text_col)
    counts = {
        sc: F.regexp_count(t, F.lit("\\p{Is" + sc + "}")) for sc in SCRIPT_CLASSES
    }
    total = None
    for c in counts.values():
        total = c if total is None else total + c
    total_c = F.greatest(total, F.lit(0))
    maxc = F.greatest(*counts.values())
    dominant = F.lit("none")
    # build the when-chain in REVERSE so the first class in
    # SCRIPT_CLASSES wins ties (outermost when)
    for sc in reversed(SCRIPT_CLASSES):
        dominant = F.when(
            (maxc > 0) & (counts[sc] == maxc), F.lit(sc.lower())
        ).otherwise(dominant)
    cols = [F.col(id_col), total_c.alias("n_letters")]
    for sc in SCRIPT_CLASSES:
        cols.append(
            F.round(
                F.when(total_c > 0, counts[sc] / total_c).otherwise(F.lit(0.0)), 6
            ).alias(f"frac_{sc.lower()}")
        )
    cols.append(dominant.alias("dominant_script"))
    return docs.select(*cols)


#: abbreviations whose trailing period never ends a sentence
ABBREVIATIONS = ["Mr.", "Mrs.", "Dr.", "Prof.", "St.", "vs.",
                 "e.g.", "i.e.", "etc.", "Jr.", "Sr.", "No."]

#: private-use sentinels for the protect/split/restore chain
_DOT_SENTINEL = "\x01"
_SENT_SEP = "\x1e"


def split_sentences(docs, id_col: str = "doc_id", text_col: str = "text"):
    """Rule-based sentence segmentation — the chunking granularity below
    ``chunk_documents``: many curation stages (dedup shingling, quality
    windows, citation alignment) want sentences, not fixed token windows.

    The classic deterministic recipe, lookaround-free so it stays inside
    both Java regex AND RE2 (the engines the driver compares):

      1. protect known abbreviations (``Dr.`` → ``Dr<SENTINEL>``),
      2. mark a boundary where ``[.!?]+`` + whitespace is followed by a
         plausible sentence opener (``[A-Z0-9"'(]``) — capture groups, not
         lookahead, so ``vs. the`` (lowercase continuation) never splits,
      3. restore the sentinels, split on the boundary marker, posexplode
         (order by position, no sort), trim, drop empties.

    One codegen'd projection + explode: zero shuffles, zero Python.
    Output: ``(id_col, sent_id, sentence)``.
    """
    t = F.col(text_col)
    for abbr in ABBREVIATIONS:
        t = F.replace(
            t, F.lit(abbr), F.lit(abbr[:-1].replace(".", _DOT_SENTINEL) + _DOT_SENTINEL)
        )
    t = F.regexp_replace(t, r"([.!?]+)\s+([A-Z0-9\"'(])", "$1" + _SENT_SEP + "$2")
    t = F.replace(t, F.lit(_DOT_SENTINEL), F.lit("."))
    out = docs.select(
        F.col(id_col),
        F.posexplode(F.split(t, _SENT_SEP)).alias("sent_id", "sentence"),
    )
    return out.select(
        id_col, "sent_id", F.trim("sentence").alias("sentence")
    ).where(F.col("sentence") != "")


def compression_ratio(docs, id_col: str = "doc_id", text_col: str = "text",
                      level: int = 6):
    """DEFLATE compression ratio per document — the classic cheap entropy
    signal web-corpus curation uses alongside the repetition metrics:
    boilerplate/spam/keyword-stuffed pages compress far better than prose,
    and the ratio needs no language model at all.

    Adds ``comp_ratio`` = compressed_bytes / utf8_bytes (empty text → 1.0).
    Per-row ``mapInArrow`` stage over ``zlib`` (the per-row Python is one
    call into the C codec, not per-byte work); zero shuffles.  Not
    SQL-expressible, so its query gate is a verdict query (planted
    repetitive vs pseudo-random docs must land on the expected sides of
    the thresholds) rather than a value replay.
    """
    import zlib

    cols = docs.columns
    out_fields = ", ".join(
        f"`{c}` {docs.schema[c].dataType.simpleString()}" for c in cols
    )
    schema = f"{out_fields}, comp_ratio double"

    k = cols.index(text_col)

    def comp_ratio_row(*row):
        s = row[k]
        if not s:
            return (*row, 1.0)
        raw = s.encode("utf-8")
        return (*row, len(zlib.compress(raw, level)) / len(raw))

    return map_rows(docs, comp_ratio_row, schema)


def scrub_text(docs, id_col: str = "doc_id", text_col: str = "text"):
    """C4-style text scrub — the first cleaning pass after extraction:

      1. strip control characters (keeping ``\\n`` and ``\\t`` for now),
         the U+FFFD replacement char, and zero-width characters
         (ZWSP/ZWNJ/ZWJ/BOM — invisible but they break tokenizers and
         dedup hashes),
      2. collapse horizontal whitespace runs to one space,
      3. trim spaces around newlines,
      4. collapse 3+ consecutive newlines to a paragraph break (2),
      5. trim the ends.

    One codegen'd regexp chain, zero shuffles, zero Python; every pattern
    is in the Java∩RE2 subset so the driver oracle replays it verbatim.
    Adds ``scrubbed`` (whether anything changed).
    """
    t = F.col(text_col)
    out = F.regexp_replace(
        t, "[\\x00-\\x08\\x0B-\\x1F\\x7F\\x{FFFD}\\x{200B}-\\x{200D}\\x{FEFF}]", ""
    )
    out = F.regexp_replace(out, "[ \\t]+", " ")
    out = F.regexp_replace(out, " ?\\n ?", "\n")
    out = F.regexp_replace(out, "\\n{3,}", "\n\n")
    out = F.trim(out)
    return docs.select(
        F.col(id_col),
        out.alias(text_col),
        (~out.eqNullSafe(t)).alias("scrubbed"),
    )


def strip_quoted_replies(docs, id_col: str = "doc_id", text_col: str = "text"):
    """Email/forum reply cleanup — the mail-archive analogue of HTML
    boilerplate stripping: drop quoted lines (``>``-prefixed at any
    nesting), the ``On … wrote:`` attribution line, and everything from
    the RFC 3676 signature delimiter (``-- ``) down.

    Pure JVM higher-order functions over the line array (split →
    indexed ``filter`` against the signature cut-point → rejoin); zero
    shuffles, zero Python.  Adds ``n_dropped`` (lines removed).
    """
    lines = F.split(F.col(text_col), "\n")
    sig_hits = F.filter(
        F.transform(
            lines, lambda l, i: F.when(l.rlike(r"^-- ?$"), i)
        ),
        lambda x: x.isNotNull(),
    )
    cut = F.coalesce(F.array_min(sig_hits), F.size(lines))
    is_noise = (
        lambda l: l.rlike(r"^\s*>") | l.rlike(r"^On .* wrote:\s*$")
    )
    kept = F.filter(lines, lambda l, i: (i < cut) & ~is_noise(l))
    # NB: alias the cleaned text under a fresh name first — aliasing it
    # directly as ``text_col`` would make Spark's lateral-column-alias
    # resolution rebind the SAME select's later ``n_dropped`` expression
    # to the cleaned text instead of the input column
    out = docs.select(
        F.col(id_col),
        F.array_join(kept, "\n").alias("__clean"),
        (F.size(lines) - F.size(kept)).alias("n_dropped"),
    )
    return out.select(
        id_col, F.col("__clean").alias(text_col), "n_dropped"
    )


def extract_code_fences(docs, id_col: str = "doc_id", text_col: str = "text"):
    """Pull fenced code blocks out of markdown-ish text — the separation a
    code-aware training pipeline makes before prose and code take
    different cleaning paths (code must NOT go through whitespace
    collapse, PII regexes tuned for prose, or sentence splitting).

    ``(id, fence_id, lang, code)`` per block, in document order; ``lang``
    is the info string (empty → NULL).  One ``regexp_extract_all`` +
    posexplode projection, zero shuffles.
    """
    t = F.col(text_col)
    blocks = F.regexp_extract_all(t, F.lit(r"(?s)```([^\n`]*)\n(.*?)```"), 0)
    rows = docs.select(
        F.col(id_col),
        F.posexplode(blocks).alias("fence_id", "block"),
    )
    return rows.select(
        id_col,
        "fence_id",
        F.nullif(
            F.trim(F.regexp_extract("block", r"^```([^\n`]*)\n", 1)), F.lit("")
        ).alias("lang"),
        F.regexp_replace(
            F.regexp_extract("block", r"(?s)^```[^\n`]*\n(.*)```$", 1),
            r"\n$", "",
        ).alias("code"),
    )


def sentence_chunks(
    sents, max_tokens: int = 128, id_col: str = "doc_id"
):
    """Greedy sentence-boundary chunking — what RAG and pretraining
    pipelines actually want below ``chunk_documents``'s fixed token
    windows: chunks that never split a sentence, filled greedily up to
    ``max_tokens`` whitespace tokens (an oversized single sentence gets
    its own chunk rather than being dropped).

    Input is ``split_sentences`` output (``id, sent_id, sentence``).
    Plan: ONE partial-agg shuffle collects each document's sentences in
    order; the greedy scan is a pure-JVM ``aggregate`` HOF assigning a
    chunk id per sentence; explode + a map-side re-group emits
    ``(id, chunk_id, text, n_sentences, n_tokens)``.
    """
    per_doc = sents.groupBy(id_col).agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("sent_id"), F.col("sentence")))
        ).alias("ss")
    )
    ntok = lambda s: F.size(F.split(F.trim(s), r"\s+"))
    assigned = F.aggregate(
        F.col("ss"),
        F.struct(
            F.lit(0).alias("cur"),
            F.lit(0).alias("used"),
            F.array().cast("array<int>").alias("ids"),
        ),
        lambda acc, x: F.struct(
            F.when(
                (acc["used"] > 0) & (acc["used"] + ntok(x["sentence"]) > max_tokens),
                acc["cur"] + 1,
            ).otherwise(acc["cur"]).alias("cur"),
            F.when(
                (acc["used"] > 0) & (acc["used"] + ntok(x["sentence"]) > max_tokens),
                ntok(x["sentence"]),
            ).otherwise(acc["used"] + ntok(x["sentence"])).alias("used"),
            F.concat(
                acc["ids"],
                F.array(
                    F.when(
                        (acc["used"] > 0)
                        & (acc["used"] + ntok(x["sentence"]) > max_tokens),
                        acc["cur"] + 1,
                    ).otherwise(acc["cur"])
                ),
            ).alias("ids"),
        ),
        lambda acc: acc["ids"],
    )
    exploded = per_doc.select(
        id_col,
        F.posexplode(F.arrays_zip(F.col("ss"), assigned.alias("cid"))).alias(
            "pos", "z"
        ),
    ).select(
        id_col,
        "pos",
        F.col("z.cid").alias("chunk_id"),
        F.col("z.ss.sentence").alias("sentence"),
    )
    # collect_list order is partition-arbitrary: sort by the document
    # position before joining so chunk text is in reading order
    joined = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("pos"), F.col("sentence")))),
            lambda s: s["sentence"],
        ),
        " ",
    )
    return exploded.groupBy(id_col, "chunk_id").agg(
        joined.alias("text"),
        F.count("*").cast("int").alias("n_sentences"),
        F.size(F.split(F.trim(joined), r"\s+")).alias("n_tokens"),
    )


def language_consistency(docs, id_col: str = "doc_id", text_col: str = "text"):
    """Code-switching detector — multilingual curation drops documents
    whose sentences disagree about language (usually boilerplate collage,
    spam, or mis-merged crawl records rather than real bilingual prose).

    ``split_sentences`` → per-sentence ``lang_guess`` → per-document
    majority vote.  Output: ``(id, n_sents, majority_lang, majority_frac,
    mixed)`` with ``mixed`` true when the majority holds < ``0.8`` of the
    classified sentences (``und`` sentences don't vote).  Two short-key
    partial-agg shuffles; the per-sentence classifier is the codegen'd
    marker chain.
    """
    sents = split_sentences(docs, id_col=id_col, text_col=text_col)
    tagged = sents.select(
        F.col(id_col), lang_guess(F.col("sentence")).alias("lang")
    ).where(F.col("lang") != "und")
    counts = tagged.groupBy(id_col, "lang").agg(F.count("*").alias("n"))
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(F.col("n").desc(), F.col("lang").asc())
    totals = counts.groupBy(id_col).agg(F.sum("n").alias("n_sents"))
    top = (
        counts.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") == 1)
        .drop("__rk")
    )
    out = top.join(totals, id_col).select(
        id_col,
        F.col("n_sents").cast("int").alias("n_sents"),
        F.col("lang").alias("majority_lang"),
        F.round(F.col("n") / F.col("n_sents"), 6).alias("majority_frac"),
        (F.col("n") / F.col("n_sents") < 0.8).alias("mixed"),
    )
    return out


def filter_report(docs, id_col: str = "doc_id", text_col: str = "text",
                  source_col: str = "source"):
    """Per-source curation dashboard over ``document_filter``: doc counts,
    keep counts, 6-dp keep rate, and the dominant reject reason (most
    frequent among rejected docs; ties break alphabetically; all-keep
    sources get NULL) — the rollup a corpus owner reads after every
    filter-rule change.

    Plan (r6): the filter verdicts (codegen'd) join back to the source
    column on the id key, then ONE short-key aggregate into the tiny
    (source × keep × reason) cell table; doc/keep totals and the dominant
    reason all derive from that intermediate in a second aggregate, the
    argmax via ``min_by`` over ``struct(-count, reason)`` (count desc,
    reason asc — NULL keys for keep rows are skipped by the aggregate, so
    all-keep sources come out NULL).  The verdict chain used to be
    evaluated twice (one lineage per consumer) and re-joined through a
    window + sort-merge outer join; now it runs once with zero joins past
    the verdict attach.
    """
    verdicts = document_filter(docs, id_col=id_col, text_col=text_col)
    d = verdicts.join(docs.select(id_col, source_col), id_col)
    cell = d.groupBy(source_col, "keep", "reject_reason").agg(
        F.count("*").alias("__c")
    )
    return (
        cell.groupBy(source_col)
        .agg(
            F.sum("__c").cast("long").alias("n_docs"),
            F.sum(F.when(F.col("keep"), F.col("__c")).otherwise(0))
            .cast("long").alias("n_keep"),
            F.min_by(
                "reject_reason",
                F.when(
                    ~F.col("keep"),
                    F.struct(
                        (-F.col("__c")).alias("nc"),
                        F.col("reject_reason").alias("r"),
                    ),
                ),
            ).alias("top_reject_reason"),
        )
        .select(
            source_col, "n_docs", "n_keep",
            F.round(F.col("n_keep") / F.col("n_docs"), 6).alias("keep_rate"),
            "top_reject_reason",
        )
    )


# ----------------------------------------------------------------------
# distinct census — HLL scale path with an exact verification twin
# ----------------------------------------------------------------------

def distinct_census(
    docs: DataFrame,
    key_col: str = "text",
    group_col: str = "source",
    rsd: float = 0.02,
) -> DataFrame:
    """Per-group cardinality: row count, EXACT distinct, and the
    HyperLogLog++ estimate (``approx_count_distinct``, Spark's built-in
    HLL) checked against its own error bound.

    Scale story: exact ``countDistinct`` expands the aggregate into a
    per-key distinct shuffle — fine at test scale, ruinous on a 10^12-row
    key column.  The HLL sketch is partial-aggregable (constant-size
    state per group, one exchange, no distinct expansion) and is the
    column a 100 TB dashboard actually reads; the exact twin runs here so
    the estimate is VERIFIED, not trusted — ``hll_ok`` asserts the
    estimate lands within 5×rsd relative (plus a 4-count absolute floor
    for tiny groups).  Both aggregates share one scan and one exchange.
    """
    agg = docs.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct(key_col).alias("n_distinct"),
        F.approx_count_distinct(key_col, rsd).alias("__n_approx"),
    )
    bound = F.greatest(
        F.ceil(F.col("n_distinct") * F.lit(5.0 * rsd)), F.lit(4)
    )
    return agg.select(
        group_col,
        "n_rows",
        "n_distinct",
        (F.abs(F.col("__n_approx") - F.col("n_distinct")) <= bound).alias(
            "hll_ok"
        ),
    )


# ----------------------------------------------------------------------
# dialogue-turn assembly — transcripts → structured conversation turns
# ----------------------------------------------------------------------

def dialogue_turns(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """``Speaker: utterance`` transcripts (interview dumps, chat logs,
    screenplay-style corpora) → one row per conversational turn:
    ``(doc_id, turn, speaker, utterance)``.

    Rules (the common transcript convention): a line opening with a
    short capitalized tag before a colon starts a new turn; untagged
    lines continue the current turn (joined with a space); anything
    before the first speaker tag is preamble and is dropped; turn
    numbering is 0-based per document.

    Pure JVM: posexplode over the line split, a running ``sum`` window
    on (doc, line order) to assign turn ids, one per-(doc, turn)
    partial agg with position-sorted reassembly (``collect_list`` order
    is partition-arbitrary — pinned via ``sort_array`` on a (pos, line)
    struct, the r5 house rule).  One window exchange on the doc key;
    the turn agg fuses onto the same partitioning.
    """
    from pyspark.sql import Window

    speaker_re = r"^([A-Z][A-Za-z .'-]{0,30}):\s+"
    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )
    tagged = lines.select(
        id_col,
        "pos",
        F.nullif(F.regexp_extract("line", speaker_re, 1), F.lit("")).alias(
            "speaker"
        ),
        F.trim(F.regexp_replace("line", speaker_re, "")).alias("txt"),
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    turns = tagged.withColumn(
        "turn",
        F.sum(F.when(F.col("speaker").isNotNull(), 1).otherwise(0)).over(w),
    ).where((F.col("turn") >= 1) & (F.length("txt") > 0))
    return (
        turns.groupBy(id_col, "turn")
        .agg(
            F.max("speaker").alias("speaker"),
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("pos", "txt"))
                    ),
                    lambda s: s["txt"],
                ),
                " ",
            ).alias("utterance"),
        )
        .withColumn("turn", (F.col("turn") - 1).cast("int"))
    )


# ----------------------------------------------------------------------
# term-level blocklist tagging (the C4 "badwords" stage)
# ----------------------------------------------------------------------


def blocklist_term_hits(
    docs,
    terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """C4-style content blocklist: tag every document with its hits
    against a term list (C4 dropped any page containing a listed word;
    RefinedWeb/FineWeb keep the verdict as a feature). The domain-level
    twin is ``functions/urls.py``; this is the token-level leg.

    Plan shape for 100 TB: tokens explode NARROW (doc_id + token only —
    the document text itself never explodes or shuffles), the term list
    is a BROADCAST hash join (blocklists are 10^3–10^4 rows by
    definition), so only MATCHED (doc_id, term) rows — rare by
    construction — reach the per-doc aggregate's exchange. The final
    join back to the full id list rides the same short doc_id key.
    Matching is case-insensitive whole-token, the C4 rule; punctuation is
    stripped token-edge so "word," still hits.
    """
    spark = docs.sparkSession
    terms_df = spark.createDataFrame(
        [(t.lower(),) for t in sorted(set(terms))], "term string"
    )
    toks = docs.select(
        id_col,
        F.explode(tokens(F.lower(F.col(text_col)))).alias("__tok"),
    ).select(
        id_col,
        F.regexp_replace("__tok", r"^[^a-z0-9]+|[^a-z0-9]+$", "").alias("term"),
    )
    hits = (
        toks.join(F.broadcast(terms_df), "term")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_hits"),
            F.size(F.collect_set("term")).alias("n_distinct_terms"),
            F.array_join(F.array_sort(F.collect_set("term")), "|").alias(
                "hit_terms"
            ),
        )
    )
    return (
        docs.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.coalesce("n_distinct_terms", F.lit(0))
            .cast("int")
            .alias("n_distinct_terms"),
            F.col("hit_terms"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("flagged"),
        )
    )


# ----------------------------------------------------------------------
# license detection (the code-corpus filtering stage)
# ----------------------------------------------------------------------

#: header fingerprints, checked in a fixed precedence order — each is a
#: distinctive phrase from the license's canonical text (case-folded)
_LICENSE_MARKERS: list[tuple[str, str]] = [
    ("MIT", "permission is hereby granted, free of charge"),
    ("Apache-2.0", "licensed under the apache license, version 2.0"),
    ("BSD-3-Clause", "redistribution and use in source and binary forms"),
    ("GPL-3.0-only", "gnu general public license"),
]

_SPDX_RE = r"SPDX-License-Identifier:\s*([A-Za-z0-9.+-]+)"


def detect_license(docs, id_col: str = "doc_id", text_col: str = "text"):
    """Code-corpus license detection (the Stack/StarCoder permissive-
    filter stage): an explicit ``SPDX-License-Identifier`` tag wins;
    otherwise the first matching canonical-header fingerprint in a fixed
    precedence order; otherwise NULL. Output: (id, license, matched_via
    ∈ {'spdx','header',NULL}, permissive).

    One codegen'd projection — ``regexp_extract`` + a short
    ``lower(text) CONTAINS`` chain — zero shuffles, zero Python, and the
    rules are engine-portable (the oracle replays them verbatim)."""
    c = F.col(text_col)
    spdx = F.regexp_extract(c, _SPDX_RE, 1)
    lowered = F.lower(c)
    header = F.lit(None).cast("string")
    for lic, marker in reversed(_LICENSE_MARKERS):
        header = F.when(lowered.contains(marker), F.lit(lic)).otherwise(header)
    license_col = F.when(spdx != "", spdx).otherwise(header)
    via = (
        F.when(spdx != "", F.lit("spdx"))
        .when(header.isNotNull(), F.lit("header"))
        .otherwise(F.lit(None).cast("string"))
    )
    permissive = license_col.isin("MIT", "Apache-2.0", "BSD-3-Clause")
    return docs.select(
        id_col,
        license_col.alias("license"),
        via.alias("matched_via"),
        F.coalesce(permissive, F.lit(False)).alias("permissive"),
    )


# ----------------------------------------------------------------------
# extraction-quality evaluation (CER against a reference text)
# ----------------------------------------------------------------------


def extraction_quality(
    pairs,
    id_col: str = "doc_id",
    ref_col: str = "ref_text",
    hyp_col: str = "hyp_text",
):
    """Per-document extraction/OCR quality against a reference: character
    error rate (Levenshtein / reference length — the standard OCR metric),
    exactness, and a deterministic quality band. This is the eval loop a
    pipeline runs after any change to the layout/cleanup operators, at
    corpus scale.

    Pure JVM: Spark's built-in ``levenshtein`` inside one codegen'd
    projection, zero shuffles, zero Python. The driver oracle is a genuine
    CROSS-ENGINE check — DuckDB computes its own independent edit
    distance over the same pairs (the `fuzzy_title_pairs` precedent)."""
    ref, hyp = F.col(ref_col), F.col(hyp_col)
    dist = F.levenshtein(ref, hyp)
    cer = F.round(dist / F.greatest(F.length(ref), F.lit(1)), 6)
    band = (
        F.when(dist == 0, "exact")
        .when(cer <= 0.05, "good")
        .when(cer <= 0.25, "degraded")
        .otherwise("bad")
    )
    return pairs.select(
        id_col,
        dist.cast("long").alias("edit_distance"),
        cer.alias("cer"),
        (dist == 0).alias("exact"),
        band.alias("quality_band"),
    )


# ----------------------------------------------------------------------
# CCNet perplexity buckets (head / middle / tail)
# ----------------------------------------------------------------------


def perplexity_buckets(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    approx: bool = False,
):
    """CCNet's head/middle/tail split: per-LANGUAGE tertiles of the
    corpus-LM cross-entropy, the curation cut used to keep the fluent
    third of a crawl (head), sample the middle, and drop the tail.

    Composition of two audited pieces: ``unigram_cross_entropy`` (two
    short-key partial-agg shuffles) + ``lang_guess`` (codegen'd). The
    tertile thresholds are a per-lang aggregate — rows ∝ languages, a
    broadcast join back — computed with exact ``percentile`` (linear
    interpolation ≡ DuckDB ``quantile_cont``, the `corpus_stats`
    precedent) or ``approx_percentile`` at 100 TB (``approx=True``, same
    plan shape, bounded memory). Thresholds AND scores round to 6 dp
    before comparison so the bucket edges are engine-portable."""
    from pyspark.sql import Window

    pct = (
        (lambda c, p: F.approx_percentile(c, F.lit(p)))
        if approx
        else (lambda c, p: F.percentile(c, F.lit(p)))
    )
    ce = unigram_cross_entropy(docs, id_col=id_col, text_col=text_col)
    langs = docs.select(id_col, lang_guess(F.col(text_col)).alias("lang"))
    j = ce.join(langs, id_col)
    # r6: tertiles as window aggregates over the lang partition instead of
    # a groupBy + broadcast join-back — the join-back consumed ``j`` twice,
    # re-evaluating the whole cross-entropy chain (same percentile over the
    # same partition set, so thresholds are identical). Rows-per-language
    # is the window's buffering unit; at 100 TB use approx=True (same
    # plan, bounded memory).
    w = Window.partitionBy("lang")
    bucket = (
        F.when(F.col("cross_entropy") <= F.col("t1"), "head")
        .when(F.col("cross_entropy") <= F.col("t2"), "middle")
        .otherwise("tail")
    )
    return (
        j.select(
            id_col,
            "lang",
            "cross_entropy",
            F.round(pct(F.col("cross_entropy"), 1.0 / 3.0).over(w), 6).alias(
                "t1"
            ),
            F.round(pct(F.col("cross_entropy"), 2.0 / 3.0).over(w), 6).alias(
                "t2"
            ),
        )
        .select(id_col, "lang", "cross_entropy", bucket.alias("bucket"))
    )


# ----------------------------------------------------------------------
# readability metrics (Flesch) — the fluency prior quality filters use
# ----------------------------------------------------------------------


def readability_metrics(docs, id_col: str = "doc_id", text_col: str = "text"):
    """Flesch reading-ease + Flesch-Kincaid grade per doc, from a
    deterministic engine-portable syllable rule: syllables(word) =
    max(#vowel-groups − [trailing silent 'e' when >1 group], 1) over
    lowercased letter-stripped tokens; sentences = max(#[.!?] runs, 1).
    Not a linguistics engine — the same documented approximation on both
    sides of the gate, which is what a corpus-scale fluency prior needs.

    All pure JVM: one codegen'd projection of ``transform``/``aggregate``
    HOFs + ``regexp_count`` — zero shuffles, zero Python."""
    c = F.col(text_col)
    words = F.filter(
        F.transform(
            tokens(F.lower(c)),
            lambda w: F.regexp_replace(w, r"[^a-z]", ""),
        ),
        lambda w: w != F.lit(""),
    )
    n_words = F.greatest(F.size(words), F.lit(1))
    groups = lambda w: F.regexp_count(w, F.lit(r"[aeiouy]+"))  # noqa: E731
    syl = lambda w: F.greatest(  # noqa: E731
        groups(w)
        - F.when(w.endswith("e") & (groups(w) > 1), F.lit(1)).otherwise(F.lit(0)),
        F.lit(1),
    )
    n_syll = F.aggregate(
        F.transform(words, syl), F.lit(0), lambda acc, v: acc + v
    )
    n_sent = F.greatest(F.regexp_count(c, F.lit(r"[.!?]+")), F.lit(1))
    wps = n_words.cast("double") / n_sent
    spw = n_syll.cast("double") / n_words
    return docs.select(
        id_col,
        F.size(words).cast("long").alias("n_words"),
        n_sent.cast("long").alias("n_sentences"),
        n_syll.cast("long").alias("n_syllables"),
        F.round(206.835 - 1.015 * wps - 84.6 * spw, 6).alias(
            "flesch_reading_ease"
        ),
        F.round(0.39 * wps + 11.8 * spw - 15.59, 6).alias("fk_grade"),
    )
