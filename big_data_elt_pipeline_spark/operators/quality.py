"""Document-quality filtering operators: C4-style line/document heuristics
(Raffel et al. 2020, "Exploring the Limits of Transfer Learning", §2.2)
and a CCNet-style LM fluency filter (Wenzek et al. 2020) built on hashed
n-gram counts instead of an external KenLM binary.

Beyond-reference surface — the cleaning pass every web-scale corpus runs
before dedup/mixture. Both operators are engine-checkable end to end:

- ``c4_line_stats``: the C4 rule set re-expressed per line — terminal
  punctuation required, minimum words per line, curly-brace / "lorem
  ipsum" / "javascript" blocklists — with per-rule audit counters, a
  document keep decision (>= ``min_lines`` surviving lines) and the md5
  fingerprint of the cleaned text. Entirely map-only: the line split, all
  per-line predicates, the rejoin and the fingerprint happen inside the
  row, so the pass runs at scan speed with ZERO shuffle at any corpus
  size (the same shape as ``privacy.redact``).
- ``lm_scores``: train a hashed-bigram unigram-smoothed language model on
  a reference split (one bucket-bounded aggregation, model table ≤
  ``buckets`` rows → broadcast), then score every document's mean
  negative log-likelihood. Log-probs are rounded to 6 decimals and summed
  as DECIMAL (the BM25/DSIR idiom) so the score is bit-identical under
  any partitioning and in the DuckDB oracle. The keep threshold is the
  exact corpus median NLL — CCNet's "head/middle/tail" cut at the
  middle boundary.

Scale shape: ``c4_line_stats`` is a pure map. ``lm_scores`` shuffles
(a) ≤ ``buckets`` rows for the model (partial-aggregated: every partition
emits at most ``buckets`` partial counts regardless of corpus size) and
(b) one doc-keyed aggregation for the per-doc score — the same footprint
as ``dsir_weights``. Nothing here is quadratic or skew-prone: bucket ids
are uniform by construction (md5-based hashing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from big_data_elt_pipeline_spark.functions.text import tokens

# ----------------------------------------------------------------------
# C4-style heuristic cleaning
# ----------------------------------------------------------------------

LINE_WORDS = 8           # synthetic line width (tokens per derived line)
MIN_LINE_WORDS = 5       # C4: drop lines with fewer words
MIN_KEPT_LINES = 3       # C4: drop docs with fewer surviving lines
BLOCK_BRACE = "{"        # C4: code marker
BLOCK_LOREM = "lorem ipsum"
BLOCK_JS = "javascript"


def decorated_lines(doc_id: F.Column, text: F.Column) -> F.Column:
    """Deterministic line fixture: chunk the token stream into
    ``LINE_WORDS``-token lines and plant C4-rule violations seeded by
    ``(doc_id, line_no)`` — the ``pii_scrub`` trick (the synthetic corpus
    has no newlines or punctuation, so the defects the filter must catch
    are derived from the id with the SAME arithmetic in both engines; the
    machinery under test is the per-line predicate pass, not the
    generator).

    Plants, applied in this fixed order (d = doc_id*31 + line_no):
      d % 19 == 3 -> line truncated to 2 words (too-short defect)
      d % 17 == 2 -> "lorem ipsum " prefix     (placeholder defect)
      d % 23 == 4 -> " javascript" suffix      (boilerplate defect)
      d % 13 == 1 -> " {" suffix               (code defect)
      d % 11 != 0 -> "." suffix                (i.e. d%11==0 LACKS the
                                                terminal punctuation)
    """
    tok = tokens(text)
    n_lines = F.floor((F.size(tok) + F.lit(LINE_WORDS - 1)) / F.lit(LINE_WORDS))

    def _line(i: F.Column) -> F.Column:
        d = doc_id.cast("long") * F.lit(31) + i
        words = F.slice(tok, i * F.lit(LINE_WORDS) + F.lit(1), F.lit(LINE_WORDS))
        words = F.when(d % 19 == 3, F.slice(words, 1, 2)).otherwise(words)
        t = F.array_join(words, " ")
        t = F.when(d % 17 == 2, F.concat(F.lit("lorem ipsum "), t)).otherwise(t)
        t = F.when(d % 23 == 4, F.concat(t, F.lit(" javascript"))).otherwise(t)
        t = F.when(d % 13 == 1, F.concat(t, F.lit(" {"))).otherwise(t)
        return F.when(d % 11 != 0, F.concat(t, F.lit("."))).otherwise(t)

    return F.transform(F.sequence(F.lit(0), (n_lines - 1).cast("int")), _line)


def c4_line_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document C4 audit: per-rule violation counts, surviving-line
    count, document keep decision, md5 of the cleaned (kept-lines) text.
    One map-only projection — no shuffle, no explode, at any corpus size.

    The per-line string predicates are evaluated ONCE per line into a
    flags struct; the audit counters then just count booleans. Plan-
    verified: the optimized plan contains exactly three array transforms
    (line derivation + flags + the kept-lines projection for the
    fingerprint) instead of one interpreted ``filter(lines, …)`` rescan
    per audit column. Higher-order functions run interpreted, so the
    ~0.3 ms/line constant dominates at small scale; the shape is still a
    single scan-speed map pass with no exchange.
    """
    did = F.col(id_col)
    lines = decorated_lines(did, F.col(text_col))
    flagged = F.transform(
        lines,
        lambda t: F.struct(
            t.alias("t"),
            (F.substring(t, -1, 1) != ".").alias("no_punct"),
            (F.size(F.split(t, " ")) < MIN_LINE_WORDS).alias("short"),
            (F.instr(t, BLOCK_BRACE) > 0).alias("brace"),
            (F.instr(t, BLOCK_LOREM) > 0).alias("lorem"),
            (F.instr(t, BLOCK_JS) > 0).alias("js"),
        ),
    )
    staged = docs.select(did, flagged.alias("fl"))
    fl = F.col("fl")

    def _n(pred) -> F.Column:
        return F.size(F.filter(fl, pred)).cast("long")

    kept = F.filter(
        fl,
        lambda s: ~(s.no_punct | s.short | s.brace | s.lorem | s.js),
    )
    return staged.select(
        did,
        F.size(fl).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept"),
        _n(lambda s: s.no_punct).alias("n_no_punct"),
        _n(lambda s: s.short).alias("n_short"),
        _n(lambda s: s.brace).alias("n_brace"),
        _n(lambda s: s.lorem).alias("n_lorem"),
        _n(lambda s: s.js).alias("n_js"),
        (F.size(kept) >= MIN_KEPT_LINES).alias("keep_doc"),
        F.md5(F.array_join(F.transform(kept, lambda s: s.t), "\n")).alias(
            "cleaned_fp"
        ),
    )


# ----------------------------------------------------------------------
# CCNet-style LM fluency scoring (hashed-bigram model, add-one smoothing)
# ----------------------------------------------------------------------

LM_BUCKETS = 4096


def lm_scores(
    docs: DataFrame,
    ref_mod: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = LM_BUCKETS,
) -> DataFrame:
    """(doc_id, n_bigrams, nll, keep): mean negative log-likelihood of
    each document under an add-one-smoothed hashed-bigram LM trained on
    the ``doc_id % ref_mod == 0`` reference split; ``keep`` is nll <=
    exact corpus median (CCNet's middle cut).

    Determinism contract: each bucket log-prob is ``round(ln((cnt+1) /
    (total+buckets)), 6)`` — one transcendental, snapped to 6 decimals on
    a table of <= ``buckets`` rows — and per-doc accumulation is an exact
    DECIMAL(25,6) sum, so the score is independent of partitioning and
    join order and bit-identical in the DuckDB oracle (the BM25 idiom).

    Scale: model build = one partial-agg shuffle of <= ``buckets`` rows
    per partition; model + total + median are broadcast scalars/tables;
    the only corpus-sized exchange is the per-doc groupBy.
    """
    from big_data_elt_pipeline_spark.operators.sampling import _hashed_feats

    feats = _hashed_feats(docs, id_col, text_col, 2, buckets)
    ref = feats.filter(F.col(id_col) % ref_mod == 0)
    counts = ref.groupBy("b").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("total")).select(
        "total",
        F.round(
            -F.log(F.lit(1.0) / (F.col("total") + F.lit(buckets)).cast("double")), 6
        ).alias("default_nll"),
    )
    model = F.broadcast(
        counts.crossJoin(F.broadcast(total)).select(
            "b",
            F.round(
                -F.log(
                    (F.col("cnt") + F.lit(1)).cast("double")
                    / (F.col("total") + F.lit(buckets)).cast("double")
                ),
                6,
            ).alias("bucket_nll"),
        )
    )
    scored = (
        feats.join(model, "b", "left")
        .crossJoin(F.broadcast(total.select("default_nll")))
        .select(
            id_col,
            F.coalesce(F.col("bucket_nll"), F.col("default_nll"))
            .cast("decimal(25,6)")
            .alias("nll_term"),
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.sum("nll_term").cast("double") / F.count(F.lit(1)).cast("double"), 6
            ).alias("nll"),
        )
        # every consumer instantiates the scored relation at least twice
        # (the median/threshold branch + the output); without lineage
        # truncation each instantiation re-runs the corpus scan, the
        # shingle explode and the model build (measured: 20 exchanges in
        # the filter's plan, 74 in the tertile-bucket composite). The
        # checkpoint stores one row per document — the relation every
        # consumer needs materialized anyway.
        .localCheckpoint(eager=False)
    )
    med = F.broadcast(quantized_median(scored, "nll"))
    return scored.crossJoin(med).select(
        id_col,
        "n_bigrams",
        "nll",
        (F.col("nll") <= F.col("med_nll")).alias("keep"),
    )


def perplexity_buckets(
    docs: DataFrame,
    ref_mod: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = LM_BUCKETS,
) -> DataFrame:
    """CCNet's head/middle/tail partition (Wenzek et al. 2020 §4.4): rank
    the corpus by LM perplexity and split it into equal thirds — head
    (most fluent) feeds high-quality mixtures, tail is the usual discard.
    One row per bucket: (bucket, n_docs, share, mean_nll).

    Exactness: nll is the 6-dp-snapped ``lm_scores`` value; the two cut
    points are EXACT interpolated tertiles from the bounded value
    histogram (``quantized_percentiles`` — state bounded by the nll value
    domain, not the corpus); bucket means divide an exact DECIMAL(25,6)
    sum by an exact count WITHOUT re-rounding (a round() on the quotient
    could land on a half boundary where engines disagree — the
    classify._nano_update lesson; the raw correctly-rounded division is
    deterministic in both engines).

    Scale: everything is ``lm_scores``' shape plus one 3-group aggregate;
    the tertile thresholds ride along as a broadcast single row.
    """
    # lm_scores checkpoints its per-doc relation; one more (cheap) lazy
    # checkpoint here truncates the median branch too, so the tertile
    # histogram, the count and the bucket pass all read stored rows
    scored = lm_scores(docs, ref_mod, id_col, text_col, buckets).localCheckpoint(
        eager=False
    )
    th = F.broadcast(
        quantized_percentiles(scored, "nll", [1 / 3, 2 / 3]).agg(
            F.min(F.when(F.col("p") < 0.5, F.col("value"))).alias("t1"),
            F.max(F.when(F.col("p") > 0.5, F.col("value"))).alias("t2"),
        )
    )
    n_row = F.broadcast(scored.agg(F.count(F.lit(1)).alias("n_total")))
    bucket = (
        F.when(F.col("nll") <= F.col("t1"), F.lit("1_head"))
        .when(F.col("nll") <= F.col("t2"), F.lit("2_middle"))
        .otherwise(F.lit("3_tail"))
    )
    return (
        scored.crossJoin(th)
        .select(bucket.alias("bucket"), F.col("nll").cast("decimal(25,6)").alias("nll"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            (F.sum("nll").cast("double") / F.count(F.lit(1)).cast("double")).alias("mean_nll"),
        )
        .crossJoin(n_row)
        .select(
            "bucket",
            "n_docs",
            (F.col("n_docs").cast("double") / F.col("n_total").cast("double")).alias("share"),
            "mean_nll",
        )
    )


def grouped_quantized_percentiles(
    df: DataFrame, group_col: str, col: str, ps: list[float]
) -> DataFrame:
    """(group, p, value): EXACT interpolated percentiles of ``col`` per
    group, computed from a value histogram instead of Spark's
    ``percentile`` aggregate — per-language length distributions,
    per-source score spreads, any grouped exact percentile a 100 TB corpus
    audit needs; ``quantized_percentiles`` is the one-group case.
    ``percentile`` buffers every input value in the aggregation state — at
    billions of documents that is gigabytes per buffer and an OOM, not a
    plan. This needs the values QUANTIZED (already-snapped doubles, or
    integers), so groupBy(group, value) bounds the state by |groups| x
    |value domain|, never by the corpus; the cumulative window partitions
    BY GROUP over distinct values only, and all requested percentiles come
    out of that one histogram pass.

    Bit-compatibility: reproduces the WEIGHTED interpolation both Spark's
    Percentile and DuckDB's quantile_cont implement — index = p*(n-1),
    result = (ceil(index)-index)*lower + (index-floor(index))*upper, with
    lower returned directly when the index is integral. The algebraically
    equal ``lower + (upper-lower)*frac`` form differs by 1 ulp on real
    data (measured at p=0.1: 57.4 vs 57.39999999999999) — the weighted
    form is the only one that hash-matches both engines; pinned by pytest
    against percentile() on random data. A single-value group returns
    that value at every p (index 0 everywhere)."""
    from pyspark.sql import Window

    counts = df.groupBy(group_col, col).agg(F.count(F.lit(1)).alias("cnt"))
    w = (
        Window.partitionBy(group_col)
        .orderBy(col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = counts.select(
        group_col,
        F.col(col).cast("double").alias("v"),
        (F.sum("cnt").over(w) - F.col("cnt")).alias("lo"),
        F.sum("cnt").over(w).alias("hi"),
    )
    n = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n"))
    pdim = F.broadcast(
        df.sparkSession.range(1).select(
            F.explode(F.array(*[F.lit(float(p)) for p in ps])).alias("p")
        )
    )
    idx = F.col("p") * (F.col("n") - F.lit(1)).cast("double")
    lo_i = F.floor(idx).cast("long")
    hi_i = F.ceil(idx).cast("long")
    sel = (
        cum.join(n, group_col)
        .crossJoin(pdim)
        .groupBy(group_col, "p")
        .agg(
            F.min(
                F.when((F.col("lo") <= lo_i) & (lo_i < F.col("hi")), F.col("v"))
            ).alias("l"),
            F.min(
                F.when((F.col("lo") <= hi_i) & (hi_i < F.col("hi")), F.col("v"))
            ).alias("u"),
            F.max("n").alias("n"),
        )
    )
    oidx = F.col("p") * (F.col("n") - F.lit(1)).cast("double")
    olo = F.floor(oidx)
    ohi = F.ceil(oidx)
    return sel.select(
        group_col,
        "p",
        F.when(olo == ohi, F.col("l"))
        .otherwise(
            (ohi.cast("double") - oidx) * F.col("l")
            + (oidx - olo.cast("double")) * F.col("u")
        )
        .alias("value"),
    )


def quantized_percentiles(df: DataFrame, col: str, ps: list[float]) -> DataFrame:
    """(p, value) rows: EXACT interpolated percentiles of ``col`` —
    ``grouped_quantized_percentiles`` over one constant group (see there
    for the formula, the bit-compatibility and the scale contract)."""
    key = "__all"
    return grouped_quantized_percentiles(
        df.select(F.lit(0).alias(key), col), key, col, ps
    ).drop(key)


def quantized_median(df: DataFrame, col: str) -> DataFrame:
    """Single-row (med_nll) wrapper over ``quantized_percentiles`` at
    p = 0.5 (see there for the formula and the scale rationale)."""
    return quantized_percentiles(df, col, [0.5]).select(
        F.col("value").alias("med_nll")
    )


# ----------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021, §A1.1 — the document-level table)
# ----------------------------------------------------------------------

GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MWL = 3.0     # mean word length bounds
GOPHER_MAX_MWL = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1   # '#' and '…' per word
GOPHER_MIN_ALPHA_RATIO = 0.8    # words containing >= 1 [a-z]
GOPHER_MIN_STOPWORDS = 2


def gopher_rules(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document Gopher §A1.1 rule audit: the raw metrics, one boolean
    per rule, and the composite keep. Document-level rules only — the
    line-based rules (bullet-start / ellipsis-end ratios) belong to the
    line relation and live in ``c4_line_stats``'s family (docstring'd
    split, same as the paper's own grouping).

    Map-only array math: tokens / lengths / marker counts never leave the
    row (the ``doc_repetition`` shape) — zero shuffle at any corpus size.
    Ratios are exact bigint counts divided once as doubles, so the audit
    is bit-identical cross-engine without any snapping.
    """
    from big_data_elt_pipeline_spark.functions.text import STOPWORDS

    tok = tokens(F.col(text_col))
    n_words = F.size(tok).cast("long")
    # sum of word lengths via aggregate (bigint, exact)
    char_sum = F.aggregate(
        tok, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    n_symbols = (
        F.regexp_count(F.col(text_col), F.lit(r"[#…]")).cast("long")
    )
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    n_stop = F.size(F.filter(tok, lambda w: F.array_contains(stop_arr, w))).cast(
        "long"
    )
    n_alpha = F.size(F.filter(tok, lambda w: w.rlike("[a-z]"))).cast("long")

    mwl = char_sum.cast("double") / n_words.cast("double")
    sym_ratio = n_symbols.cast("double") / n_words.cast("double")
    alpha_ratio = n_alpha.cast("double") / n_words.cast("double")

    ok_words = (n_words >= GOPHER_MIN_WORDS) & (n_words <= GOPHER_MAX_WORDS)
    ok_mwl = (mwl >= GOPHER_MIN_MWL) & (mwl <= GOPHER_MAX_MWL)
    ok_sym = sym_ratio < GOPHER_MAX_SYMBOL_RATIO
    ok_alpha = alpha_ratio > GOPHER_MIN_ALPHA_RATIO
    ok_stop = n_stop >= GOPHER_MIN_STOPWORDS

    return docs.select(
        F.col(id_col),
        n_words.alias("n_words"),
        mwl.alias("mean_word_len"),
        sym_ratio.alias("symbol_ratio"),
        alpha_ratio.alias("alpha_ratio"),
        n_stop.alias("n_stopwords"),
        ok_words.alias("ok_word_count"),
        ok_mwl.alias("ok_mean_word_len"),
        ok_sym.alias("ok_symbol_ratio"),
        ok_alpha.alias("ok_alpha_ratio"),
        ok_stop.alias("ok_stopwords"),
        (ok_words & ok_mwl & ok_sym & ok_alpha & ok_stop).alias("keep_doc"),
    )


# ----------------------------------------------------------------------
# URL / domain filtering (the C4 / RefinedWeb §3.1 URL-level stage)
# ----------------------------------------------------------------------

URL_RE = r"https?://([a-z0-9.-]+)"
BLOCKED_HOSTS = ("ads.tracker.net", "casino.bet.xyz", "spam.example.xyz")
BLOCKED_TLDS = ("bet", "xyz")


def url_domain_audit(
    docs: DataFrame, id_col: str = "doc_id", url_text_col: str = "text"
) -> DataFrame:
    """(doc_id, host, registered_domain, tld, blocked_host, blocked_tld,
    keep): extract the first URL host from the text, reduce it to a
    registered domain (naive last-two-labels — a PSL lookup is a broadcast
    dim join in production), and apply host + TLD blocklists.

    Map-only: regexp extract + split + two IN-list probes inside the row;
    zero shuffle at any corpus size. Blocklists are tuple literals here —
    at real scale they become broadcast dimension tables and the IN-probes
    become map-side hash semi-joins (same plan shape).
    """
    host = F.regexp_extract(F.col(url_text_col), URL_RE, 1)
    labels = F.split(host, r"\.")
    tld = F.element_at(labels, -1)
    reg = F.when(
        F.size(labels) >= 2,
        F.concat_ws(".", F.element_at(labels, -2), tld),
    ).otherwise(host)
    blocked_host = host.isin(*BLOCKED_HOSTS)
    blocked_tld = tld.isin(*BLOCKED_TLDS)
    return docs.select(
        F.col(id_col),
        host.alias("host"),
        reg.alias("registered_domain"),
        tld.alias("tld"),
        blocked_host.alias("blocked_host"),
        blocked_tld.alias("blocked_tld"),
        (~blocked_host & ~blocked_tld & (host != "")).alias("keep"),
    )


def char_entropy(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Character-level Shannon entropy per document — the gibberish /
    binary-blob / repeated-junk detector the heuristic filter family
    lacks: natural-language text runs ~4+ bits/char, base64 and hex dumps
    sit higher with a flat histogram, and low-entropy spam ("aaaa…",
    padded boilerplate) collapses toward 0. Emits the entropy plus the
    top-character share (the single-symbol domination signal) and a
    ``low_entropy`` keep/drop flag at 2.0 bits.

    Scale shape (2 exchanges total): explode to (doc, char) is a
    generator (no shuffle); the per-(doc, char) count is bounded by
    alphabet-per-doc and collapses map-side (exchange 1, by (doc, ch));
    the per-doc totals ride a whole-partition window over the counted
    relation (exchange 2, by doc) whose output partitioning the final
    per-doc aggregate REUSES — no join ever re-shuffles the relation
    (the two-join form costs 6 exchanges for identical values).
    Determinism: p*log2(p) contributions are quantized to 1e-6 and
    summed as DECIMAL (the BM25 log discipline — IEEE log2 is not
    correctly rounded, so an unquantized double sum could drift an ulp
    across engines; the 6-dp snap + exact decimal addition is
    partitioning- and engine-stable).
    """
    from pyspark.sql import Window

    chars = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), "")).alias("ch")
    )
    cc = chars.groupBy(id_col, "ch").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy(id_col)
    enriched = cc.select(
        F.col(id_col),
        "c",
        F.sum("c").over(w).alias("n"),
        F.count(F.lit(1)).over(w).alias("n_distinct"),
        F.max("c").over(w).alias("maxc"),
    )
    p = F.col("c").cast("double") / F.col("n").cast("double")
    contrib = F.round(-(p * F.log2(p)), 6).cast("decimal(25,6)")
    return enriched.groupBy(id_col).agg(
        F.max("n").cast("long").alias("n_chars"),
        F.max("n_distinct").cast("long").alias("n_distinct_chars"),
        F.sum(contrib).cast("double").alias("entropy_bits"),
        (F.max("maxc").cast("double") / F.max("n").cast("double")).alias(
            "top_char_share"
        ),
        (F.sum(contrib).cast("double") < F.lit(2.0)).alias("low_entropy"),
    )
