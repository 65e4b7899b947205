"""Text-analysis column library for training-data pipelines.

Everything here is pure ``pyspark.sql.functions`` expressions — JVM-side,
whole-stage-codegen, zero Python — applied to the ``documents`` table.
Each query has an exactly-matching DuckDB oracle (plans/shell.py): token
splitting, regexp counts, and the polynomial rolling hash were verified to
produce bit-identical values in both engines.  ``word_tokens`` is the one
lowercased word tokenizer (BPE, tf-idf, NB), and ``_quota_prefix`` the one
quota-prefix sampler (mixture and quality sampling).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

POLY_P = 1_000_000_007
POLY_A = 31
STOPWORDS = ("the", "a", "of", "and", "to", "in")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # row-group-starved corpus files scan as ONE task; spread_parquet
    # repartitions only when the scan can't split wide enough itself
    from ..io.spread import spread_parquet

    return spread_parquet(spark, f"{sf_dir}/documents.parquet", "doc_id")


def n_tokens(text: Column) -> Column:
    return F.size(F.split(F.trim(text), r"\s+"))


def poly_hash(text: Column) -> Column:
    """Deterministic polynomial rolling hash over Unicode codepoints:
    fold(acc*31 + codepoint) mod 1e9+7 — identical in Spark and DuckDB
    (left fold, exact int64 arithmetic)."""
    return F.aggregate(
        F.split(text, ""),
        F.lit(0).cast("bigint"),
        lambda acc, x: (acc * POLY_A + F.ascii(x)) % POLY_P,
    )


def word_tokens(text: Column) -> Column:
    """The lowercased [a-z0-9]+ runs of text (a regex class Java regex and
    RE2 agree on) — the word tokens of the BPE, tf-idf and NB leaves."""
    return F.regexp_extract_all(F.lower(text), F.lit("[a-z0-9]+"), 0)


def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace-token accounting per document (chars / tokens / mean
    token length) — zero-Python column expressions, one scan."""
    d = _docs(spark, sf_dir)
    toks = n_tokens(F.col("text"))
    nonspace = F.length(F.regexp_replace(F.col("text"), r"\s", ""))
    return d.select(
        "doc_id",
        "lang",
        F.length("text").cast("bigint").alias("len_chars"),
        toks.cast("bigint").alias("num_tokens"),
        F.round(nonspace.cast("double") / toks, 6).alias("avg_token_len"),
    )


BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
# GPT-2-style pre-tokeniser shape, reduced to the subset with identical
# semantics in Java regex (Spark) and RE2 (DuckDB): letter runs, digit
# runs, and single non-alnum-non-space codepoints (CJK → one "token" per
# character, as byte-level BPE pre-splits effectively do)


def doc_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token accounting: regex pre-tokeniser counts next to the
    whitespace counts — the cost-estimation columns a training-data
    pipeline budgets with (tokens per doc, vocabulary spread, fertility
    vs whitespace words).  Pure JVM expressions, one scan."""
    d = _docs(spark, sf_dir)
    toks = F.regexp_extract_all(F.col("text"), F.lit(BPE_TOKEN_RE), 0)
    ws = n_tokens(F.col("text"))
    return d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct_tokens"),
        ws.cast("bigint").alias("n_ws_tokens"),
        F.round(F.size(toks).cast("double") / ws, 6).alias("bpe_per_ws"),
    )


def _quality_parts() -> tuple[Column, Column, Column, Column]:
    """(stop_ratio, digit_ratio, punct_ratio, score) — the heuristic
    quality expressions, factored so doc_quality_score and the NB
    classifier's training label build the IDENTICAL float expression
    tree (same op order ⇒ same IEEE doubles ⇒ the >= 0.5 band agrees
    bit-for-bit between consumers and both engines)."""
    toks = n_tokens(F.col("text")).cast("double")
    length = F.length("text").cast("double")
    stop_hits = sum(
        (F.regexp_count(F.col("text"), F.lit(rf"\b{w}\b")) for w in STOPWORDS),
        F.lit(0),
    ).cast("double")
    # try_divide: an empty text's ratios are NULL (DuckDB's x / 0.0), not
    # an ANSI DIVIDE_BY_ZERO; least() skips the NULL in both engines
    n_digit = F.regexp_count(F.col("text"), F.lit(r"[0-9]")).cast("double")
    n_punct = F.regexp_count(F.col("text"), F.lit(r"[^\w\s]")).cast("double")
    digit_ratio = F.try_divide(n_digit, length)
    punct_ratio = F.try_divide(n_punct, length)
    stop_ratio = stop_hits / toks
    score = (
        F.least(length / F.lit(500.0), F.lit(1.0)) * 0.4
        + F.least(stop_ratio * 5.0, F.lit(1.0)) * 0.3
        + (F.lit(1.0) - F.least(digit_ratio * 10.0, F.lit(1.0))) * 0.15
        + (F.lit(1.0) - F.least(punct_ratio * 10.0, F.lit(1.0))) * 0.15
    )
    return stop_ratio, digit_ratio, punct_ratio, score


def doc_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length / punctuation / stopword heuristics → [0,1] quality score
    (the text-payload analog of the det box_thresh filter)."""
    d = _docs(spark, sf_dir)
    stop_ratio, digit_ratio, punct_ratio, score = _quality_parts()
    return d.select(
        "doc_id",
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(digit_ratio, 6).alias("digit_ratio"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(score, 6).alias("quality_score"),
        (score >= 0.5).alias("keep"),
    )


def doc_lang_guess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language heuristic; compared against the table's lang
    label so the query also reports heuristic accuracy counts."""
    d = _docs(spark, sf_dir)
    en_hits = F.regexp_count(F.col("text"), F.lit(r"\b(the|a|of)\b"))
    guess = F.when(en_hits >= 3, F.lit("en")).otherwise(F.lit("other"))
    return (
        d.select("doc_id", "lang", en_hits.alias("en_hits"), guess.alias("lang_guess"))
        .groupBy("lang", "lang_guess")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("en_hits").cast("bigint").alias("total_hits"))
    )


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-document rolling-hash fingerprint (content-defined identity)."""
    d = _docs(spark, sf_dir)
    return d.select("doc_id", poly_hash(F.col("text")).alias("fingerprint"))


REP_NGRAM = 3  # Gopher-style repetition window (word 3-grams)


def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality filter signals per document:
    the most frequent word's share of all words (top_word_frac) and the
    occurrence-weighted fraction of word 3-grams that are duplicated
    inside the document (dup_gram_frac) — the two classic
    repetitious-text rejection rules for LLM training corpora.

    Spark-first plan: the word array is materialised as its OWN
    projection before any higher-order use (Catalyst does not CSE a
    nested split() across lambda iterations — CLAUDE.md winnowing note),
    then two explode→groupBy passes both keyed by doc_id.  Each pass is
    one shuffle partitioned by the document key, so a 100 TB corpus
    scales by documents with no global state; the per-doc tie-break
    (count DESC, word ASC) keeps the result deterministic."""
    d = _docs(spark, sf_dir)
    base = (
        d.select("doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("words"))
        .withColumn("n_words", F.size("words"))
    )

    from pyspark.sql import Window

    wc = (
        base.select("doc_id", "n_words", F.explode("words").alias("w"))
        .groupBy("doc_id", "n_words", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    rk = Window.partitionBy("doc_id").orderBy(F.col("c").desc(), F.col("w"))
    top = (
        wc.withColumn("rk", F.row_number().over(rk))
        .where(F.col("rk") == 1)
        .select(
            "doc_id",
            F.col("n_words").cast("bigint").alias("n_words"),
            F.col("w").alias("top_word"),
            F.round(F.col("c").cast("double") / F.col("n_words"), 6).alias("top_word_frac"),
        )
    )

    grams = base.where(F.col("n_words") >= REP_NGRAM).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.col("n_words") - REP_NGRAM),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at("words", i + 1),
                    F.element_at("words", i + 2),
                    F.element_at("words", i + 3),
                ),
            )
        ).alias("gram"),
    )
    gs = (
        grams.groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("total"),
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0))).alias("dup"),
        )
        .select(
            "doc_id",
            F.round(F.col("dup").cast("double") / F.col("total"), 6).alias("dup_gram_frac"),
        )
    )
    return top.join(gs, "doc_id", "left").select(
        "doc_id",
        "n_words",
        "top_word",
        "top_word_frac",
        F.coalesce("dup_gram_frac", F.lit(0.0)).alias("dup_gram_frac"),
    )


SPLIT_BUCKETS = 100
SPLIT_TRAIN_LT = 80  # bucket < 80 -> train, < 90 -> val, else test


def doc_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split assignment: every doc is
    bucketed by the engine's verified polynomial content hash mod 100
    (80/10/10).  Content-keyed, not id-keyed, so exact duplicates always
    land in the same split (no train/test leakage through copies) and the
    assignment is reproducible across runs and engines with zero state —
    the standard trick for splitting a 100 TB corpus without a shuffle or
    a persisted assignment table (pure map-side projection)."""
    d = _docs(spark, sf_dir)
    b = poly_hash(F.col("text")) % SPLIT_BUCKETS
    return d.select(
        "doc_id",
        b.cast("int").alias("bucket"),
        F.when(b < SPLIT_TRAIN_LT, F.lit("train"))
        .when(b < SPLIT_TRAIN_LT + 10, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


# ---------------------------------------------------------------------------
# PII scrubbing + URL canonicalisation (training-data hygiene ops).
# The synthetic corpus carries no organic PII/URLs, so both operators
# ENRICH the given table with deterministic column expressions first
# (pure functions of doc_id/source — no external data), then apply the
# real scrub/normalise transforms.  Both are single-scan, zero-Python,
# whole-stage-codegen plans with exact DuckDB twins (regex subset chosen
# to behave identically in Java regex and RE2; no backreferences).

PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PII_CC = "\\b[0-9]{4}-[0-9]{4}-[0-9]{4}-[0-9]{4}\\b"
PII_PHONE = "\\b555-[0-9]{4}\\b"
PII_IP = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"


def _pii_enriched(d: DataFrame) -> Column:
    """text + a deterministic PII tail (email, card, phone, IPv4)."""
    did = F.col("doc_id")
    return F.concat(
        F.col("text"),
        F.lit(" contact user"), did, F.lit("@mail"), did % 7,
        F.lit(".example.org call 555-"), F.lpad((did % 10000).cast("string"), 4, "0"),
        F.lit(" from 10."), did % 256, F.lit("."), (did * 7) % 256,
        F.lit("."), (did * 13) % 256,
        F.lit(" card 4111-2222-3333-"), F.lpad((did % 10000).cast("string"), 4, "0"),
    )


def doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over the enriched corpus: emails → [EMAIL], 16-digit
    card shapes → [CC], 555-exchange phones → [PHONE], dotted quads →
    [IP], applied in that fixed order (order matters: the card pattern
    would otherwise be bitten by the phone/ip passes).  Counts are
    derived from the scrubbed text by exact substring arithmetic, not a
    second regex pass.

    PRECONDITION (ADVICE r04 item 4): the substring-count shortcut is
    exact only when the input text contains no literal '[EMAIL]'/'[CC]'/
    '[PHONE]'/'[IP]' tags of its own — true of this corpus by
    construction (the synthetic documents are tag-free and the PII is
    injected arithmetically in _pii_enriched) and mirrored identically
    in the DuckDB oracle.  A general-purpose deployment over text that
    may already carry such tags should count regexp matches per pattern
    instead (one extra scan per tag class)."""
    d = _docs(spark, sf_dir)
    x = _pii_enriched(d)
    for pat, tag in (
        (PII_EMAIL, "[EMAIL]"),
        (PII_CC, "[CC]"),
        (PII_PHONE, "[PHONE]"),
        (PII_IP, "[IP]"),
    ):
        x = F.regexp_replace(x, pat, tag)

    def _count(col: Column, tag: str) -> Column:
        return (
            (F.length(col) - F.length(F.replace(col, F.lit(tag), F.lit(""))))
            / len(tag)
        ).cast("bigint")

    return d.select(
        "doc_id",
        x.alias("scrubbed"),
        _count(x, "[EMAIL]").alias("n_email"),
        _count(x, "[CC]").alias("n_cc"),
        _count(x, "[PHONE]").alias("n_phone"),
        _count(x, "[IP]").alias("n_ip"),
    )


LM_BUCKETS = 65536  # hashed char-bigram vocabulary (bounded at any corpus)


def doc_lm_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM familiarity score — the CCNet/Gopher LM-quality-filter
    shape with the model estimated FROM THE CORPUS ITSELF: a character-
    bigram frequency table over hashed buckets (ONE bounded groupBy —
    ≤ LM_BUCKETS rows at any corpus size, broadcast back), then every
    document scores the mean corpus frequency of its bigrams.  Garbage /
    rare-charset documents score low, fluent majority-language text high
    — the filter column a pretraining pipeline thresholds on.

    Determinism discipline: no log/exp (libm results differ between JVM
    and DuckDB), bucket ids are the engine's own arithmetic hash
    (cp·31 + cp′) mod 2¹⁶, and everything stays exact int64 until ONE
    final double division, written in the same literal order in both
    engines.  Scale: two scans of the bigram frame (persisted), a
    ≤ 65536-row broadcast, and one groupBy(doc_id) — no self-join."""
    from .caching import track_persist

    d = _docs(spark, sf_dir)
    cps = F.transform(F.split(F.col("text"), ""), lambda c: F.ascii(c))
    base = d.select("doc_id", cps.alias("cps")).where(F.size("cps") >= 2)
    # materialise the codepoint array as its own projection BEFORE the
    # bigram lambda (CLAUDE.md: nested arrays inside higher-order lambdas
    # re-evaluate per iteration)
    bgx = track_persist(
        base.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(cps) - 2), "
                    f"i -> (cps[i] * 31 + cps[i + 1]) % {LM_BUCKETS})"
                )
            ).alias("b"),
        )
    )
    counts = bgx.groupBy("b").agg(F.count(F.lit(1)).alias("c"))
    total = counts.agg(F.sum("c").alias("tc"))
    per_doc = (
        bgx.join(F.broadcast(counts), "b")
        .groupBy("doc_id")
        .agg(F.sum("c").alias("sc"), F.count(F.lit(1)).alias("nb"))
    )
    return per_doc.crossJoin(F.broadcast(total)).select(
        "doc_id",
        F.col("nb").cast("bigint").alias("n_bigrams"),
        F.round(
            F.col("sc") * F.lit(1000000.0) / (F.col("tc") * F.col("nb")), 6
        ).alias("familiarity"),
    )


CHUNK_C = 64   # tokens per training chunk
CHUNK_S = 48   # chunk stride (16-token overlap) — S ≤ C guarantees no
               # empty chunk and contiguous coverage


def doc_chunk_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window CHUNKING — the step that turns documents
    into bounded training sequences (C-token chunks at stride S, the
    standard context-window preparation).  Emits per chunk the token
    extent, char length, and the engine's polynomial hash of the chunk
    text (the chunk identity key downstream packing/dedup would join on).

    Spark-first: the token array is materialised ONCE per doc (referenced
    twice — size bound + slice lambda — so CollapseProject keeps the
    projection instead of inlining a re-split into every chunk lambda),
    chunks are built INSIDE one transform() so the array is never
    duplicated per chunk row, and the result explodes structs.  Work is
    O(n_tokens · C/S) per doc, map-side only — zero shuffles at any
    corpus size."""
    d = _docs(spark, sf_dir)
    base = d.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("toks")
    ).withColumn("n", F.size("toks"))
    # Catalyst does not CSE across struct fields inside a lambda, so the
    # lambda materialises each chunk's JOINED STRING exactly once (one
    # slice + one array_join); n_tok uses the closed form
    # min(C, n − i·S) (slice truncates at the array end), and
    # n_chars/chunk_hash derive from the exploded string column OUTSIDE
    # the lambda — evaluated once per chunk row
    chunks = F.transform(
        F.sequence(
            F.lit(0),
            F.expr(f"(greatest(n - {CHUNK_C}, 0) + {CHUNK_S - 1}) div {CHUNK_S}"),
        ),
        lambda i: F.struct(
            i.cast("int").alias("chunk_idx"),
            (i * CHUNK_S + 1).cast("bigint").alias("start_tok"),
            F.least(F.lit(CHUNK_C), F.col("n") - i * CHUNK_S)
            .cast("bigint")
            .alias("n_tok"),
            F.array_join(
                F.slice(F.col("toks"), i * CHUNK_S + 1, CHUNK_C), " "
            ).alias("s"),
        ),
    )
    return base.select("doc_id", F.explode(chunks).alias("c")).select(
        "doc_id",
        "c.chunk_idx",
        "c.start_tok",
        "c.n_tok",
        F.length("c.s").cast("bigint").alias("n_chars"),
        poly_hash(F.col("c.s")).alias("chunk_hash"),
    )


PACK_CAP = 256  # token budget per training shard


def doc_pack_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus SHARDING (the packing step before training):
    documents in deterministic doc_id order, an EXACT global prefix-sum
    of token counts, and each doc assigned to the shard where it starts
    (shard = (cumsum − n_tok) div CAP — contiguous ~CAP-token shards).

    The prefix sum is the distributed two-pass scan
    (functions/ranking.with_global_cumsum): range-partition on the order
    key, per-partition window cumsum in parallel, tiny per-partition
    totals broadcast back as offsets — NO single-partition global window,
    the classic scale-killer this primitive exists to avoid.  The oracle
    is the plain ANSI running-sum window, so the gate proves the
    distributed scan ≡ the sequential semantics."""
    from .ranking import with_global_cumsum

    d = _docs(spark, sf_dir)
    base = d.select("doc_id", n_tokens(F.col("text")).cast("bigint").alias("n_tok"))
    c = with_global_cumsum(base, [F.col("doc_id")], "n_tok", "cum_tok")
    return c.select(
        "doc_id",
        "n_tok",
        "cum_tok",
        F.expr(f"(cum_tok - n_tok) div {PACK_CAP}").cast("bigint").alias("shard_id"),
    )


MIX_BUDGET_DEN = 2  # sample to total_tokens div 2


def doc_sample_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture sampling — the step AFTER all the filters in a
    training-data pipeline: re-weight each domain by temperature
    (w_d = ⌈√T_d⌉, the α=0.5 flattening rule of multilingual /
    multi-domain corpus sampling), give it an exact integer token quota
    from the global budget (B = total_tokens div MIX_BUDGET_DEN;
    quota_d = (B·w_d) div Σw), and take a DETERMINISTIC hash-ordered
    prefix of the domain until the quota is reached — docs ordered by
    the polynomial content hash (pseudo-random but reproducible; ties
    by doc_id).  The kept set composes directly with doc_pack_shards.
    The lang column is the domain axis (the corpus' source axis is
    uniform by construction, so only lang makes the temperature
    reweighting observable: the dominant domain's share shrinks).

    Scale shape: per-domain running totals come from the DISTRIBUTED
    prefix-sum primitive (functions/ranking.with_global_cumsum — range
    partition → partitioned window → broadcast offsets) over the global
    (domain, h, doc_id) order, then per-domain cumsum = global cumsum −
    domain offset, where the offsets are a window over the TINY
    per-domain totals frame (≤ #domains rows, the _two_pass offsets
    pattern).  No global data window, no skewed per-domain partition
    (a Window.partitionBy(domain) would funnel the dominant domain
    through one task at 100 TB).  √T_d uses the gate-proven
    CEIL(SQRT(CAST AS DOUBLE)) cross-engine formula (_adaptive_k
    precedent); everything else is exact bigints."""
    from .caching import track_persist

    d = _docs(spark, sf_dir)
    base = track_persist(
        d.select(
            "doc_id",
            F.col("lang").alias("domain"),
            n_tokens(F.col("text")).cast("bigint").alias("n_tok"),
            poly_hash(F.col("text")).alias("h"),
        )
    )
    return _quota_prefix(base, F.col("h"))


def _quota_prefix(base: DataFrame, order: Column, *carry: Column) -> DataFrame:
    """The quota-prefix sampler of doc_sample_mixture / doc_sample_quality
    over base (doc_id, domain, n_tok, …): each domain keeps the prefix of
    its (order, doc_id) sequence whose running token count stays within
    its √-temperature quota — w_d = ⌈√T_d⌉, quota_d = ((ΣT div
    MIX_BUDGET_DEN)·w_d) div Σw.  The running count is the distributed
    global cumsum over (domain, order, doc_id) minus the domain's token
    offset, a window over the ≤|domains| totals frame (the _two_pass
    offsets pattern).  The ``carry`` columns follow n_tok in the output."""
    from pyspark.sql import Window

    from .ranking import with_global_cumsum

    tot = base.groupBy("domain").agg(F.sum("n_tok").alias("t_dom"))
    tot = tot.withColumn(
        "w_dom", F.expr("CAST(CEIL(SQRT(CAST(t_dom AS DOUBLE))) AS BIGINT)")
    )
    w_off = Window.orderBy("domain").rowsBetween(Window.unboundedPreceding, -1)
    quotas = (
        tot.crossJoin(
            F.broadcast(
                tot.agg(
                    F.sum("t_dom").alias("t_all"), F.sum("w_dom").alias("w_all")
                )
            )
        )
        .withColumn("dom_off", F.coalesce(F.sum("t_dom").over(w_off), F.lit(0)))
        .select(
            "domain",
            F.expr(
                f"((t_all div {MIX_BUDGET_DEN}) * w_dom) div w_all"
            ).alias("quota_tok"),
            "dom_off",
        )
    )
    g = with_global_cumsum(
        base, [F.col("domain"), order, F.col("doc_id")], "n_tok", "cum_all"
    )
    cum = F.col("cum_all") - F.col("dom_off")
    return (
        g.join(F.broadcast(quotas), "domain")
        .select(
            "doc_id",
            "domain",
            F.col("n_tok").cast("bigint").alias("n_tok"),
            *carry,
            cum.cast("bigint").alias("cum_dom_tok"),
            F.col("quota_tok").cast("bigint").alias("quota_tok"),
            (cum <= F.col("quota_tok")).alias("keep"),
        )
    )


def doc_sample_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted mixture sampling — the full curation composition
    (learn a filter → score every doc → sample to the mixture budget):
    the SAME √-temperature per-domain token quotas as doc_sample_mixture,
    but the deterministic per-domain prefix is ordered by the LEARNED NB
    evidence rate (best documents first, doc_id tie-break) instead of
    the content hash, so each domain's quota fills with its
    highest-quality tokens.  This is the step production pipelines run
    once a quality classifier exists (quality-ranked retention under a
    token budget).

    Scale shape is doc_sample_mixture's: the global cumsum runs through
    the distributed prefix-sum over ONE (domain, -rate, doc_id) order
    minus broadcast per-domain offsets — no per-domain data window.  The
    NB rate is an exact bigint, so ordering by its negation is the same
    total order as the oracle's rate DESC."""
    from .caching import track_persist

    d = _docs(spark, sf_dir)
    nb = doc_nb_quality_score(spark, sf_dir).select("doc_id", "rate_scaled")
    base = track_persist(
        d.select(
            "doc_id",
            F.col("lang").alias("domain"),
            n_tokens(F.col("text")).cast("bigint").alias("n_tok"),
        ).join(nb, "doc_id")
    )
    return _quota_prefix(
        base, -F.col("rate_scaled"), F.col("rate_scaled").cast("bigint").alias("rate_scaled")
    )


BPE_N_MERGES = 64  # greedy merge rounds learned from the corpus


def _merge_word_once(s: list[str], l: str, r: str, merged: str) -> list[str]:
    """One greedy leftmost-match-with-skip merge pass (the standard BPE
    application semantics, shared by the trainer's re-segmentation and
    doc_bpe_apply's from-scratch segmenter — by induction the two agree:
    each rank applies to the result of all lower ranks)."""
    out, i = [], 0
    while i < len(s):
        if i + 1 < len(s) and s[i] == l and s[i + 1] == r:
            out.append(merged)
            i += 2
        else:
            out.append(s[i])
            i += 1
    return out


def _bpe_segmenter(merges: list[tuple[str, str]]):
    """mapInPandas body factory: segment each DISTINCT word under the
    rank-ordered learned merge list.  The closure captures only a small
    list of string pairs (picklable — the struct.Struct lesson)."""

    def seg(batches):
        import pandas as pd

        for b in batches:
            ns = []
            for w in b["word"]:
                s = list(w)
                for l, r in merges:
                    s = _merge_word_once(s, l, r, l + r)
                ns.append(len(s))
            yield pd.DataFrame({"word": b["word"], "n_bpe": ns})

    return seg


def _bpe_learn_from_vocab(batches):
    """Single-task BPE merge learner over the word-frequency table
    (mapInPandas body; module-level so the closure captures nothing).

    Classic incremental trainer (the subword-nmt shape): maintain
    weighted pair counts plus a pair→word-set index; per round pick the
    argmax (count DESC, then lexicographic (l, r) — exactly the
    oracle's ORDER BY c DESC, l, r LIMIT 1), re-segment only the words
    that contain the winning pair (greedy leftmost-match with skip, the
    standard semantics; overlapping pairs count per occurrence), and
    update counts by exact delta.  Bit-equal to a full recount every
    round, at a fraction of the work."""
    import pandas as pd

    words: list[list[str]] = []
    cnts: list[int] = []
    for b in batches:
        words.extend(list(w) for w in b["word"])
        cnts.extend(int(c) for c in b["cnt"])

    from collections import defaultdict

    pair_counts: dict[tuple[str, str], int] = defaultdict(int)
    pair_words: dict[tuple[str, str], set[int]] = defaultdict(set)
    for idx, (s, c) in enumerate(zip(words, cnts)):
        for p in zip(s, s[1:]):
            pair_counts[p] += c
            pair_words[p].add(idx)

    rows = []
    for rank in range(1, BPE_N_MERGES + 1):
        live = [(p, c) for p, c in pair_counts.items() if c > 0]
        if not live:
            break  # vocab exhausted — oracle's empty-LIMIT-1 cascade
        best, best_c = min(live, key=lambda kv: (-kv[1], kv[0]))
        l, r = best
        merged = l + r
        rows.append((rank, l, r, merged, best_c))
        for idx in sorted(pair_words[best]):
            s = words[idx]
            c = cnts[idx]
            out = _merge_word_once(s, l, r, merged)
            if len(out) == len(s):
                continue  # stale index entry (pair destroyed earlier)
            for p in zip(s, s[1:]):
                pair_counts[p] -= c
                pair_words[p].discard(idx)
            for p in zip(out, out[1:]):
                pair_counts[p] += c
                pair_words[p].add(idx)
            words[idx] = out
    yield pd.DataFrame(
        rows,
        columns=["merge_rank", "merge_left", "merge_right", "merged", "pair_count"],
    )


def doc_bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE TOKENIZER TRAINING on-cluster: learn the first BPE_N_MERGES
    merge rules from the corpus itself — the actual byte-pair-encoding
    training loop (greedy highest-count adjacent pair, merge applied,
    repeat), not just token accounting.  Emits one row per learned
    merge (rank, left, right, merged symbol, weighted pair count).

    Scale shape — the industry-standard split of the work: the corpus
    collapses to the WORD-FREQUENCY TABLE first (one distributed
    groupBy — the only pass that touches corpus-sized data), and merge
    LEARNING runs as ONE single-partition mapInPandas stage over that
    table, which is O(unique words) — bounded by the language, not the
    corpus — by construction.  The round-6 shape (one Spark job per
    learned merge: pair groupBy → LIMIT-1 broadcast → fold, repeated)
    was scale-safe per round but latency-bound at 8 sequential jobs for
    8 merges and could never reach a production merge count (30k merges
    = 30k jobs); this shape learns 64 merges in one stage and reaches
    30k by just raising the constant.  The driver never sees even the
    bounded table — the learner runs as an executor task; only the
    ≤BPE_N_MERGES merge rows come back.  (Reference analogue: vocab /
    charset handling is likewise a tiny in-memory table next to the
    heavy pipeline — python/rapidocr_onnxruntime/ch_ppocr_v3_rec/
    utils.py:13-31 loads the whole character dict eagerly.)

    Determinism: symbols are chars of lowercased [a-z0-9]+ words
    (identical split in both engines), counts are exact integers, the
    argmax tie-break is lexicographic (l, r), and the greedy
    leftmost-match merge is mirrored in the oracle as a flat-VARCHAR
    list_reduce fold (the DuckDB nested-lambda-bug workaround, see
    plans/shell.py)."""
    d = _docs(spark, sf_dir)
    words = d.select(F.explode(word_tokens(F.col("text"))).alias("word"))
    vocab = words.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    return vocab.coalesce(1).mapInPandas(
        _bpe_learn_from_vocab,
        "merge_rank int, merge_left string, merge_right string, "
        "merged string, pair_count bigint",
    )


def doc_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLICATION — the distributed final re-tokenization
    that completes the train→apply pair: every document's token count
    under the vocabulary doc_bpe_learn_merges just learned, plus the
    per-doc compression the merges bought (the fertility signal corpus
    pipelines budget GPU-hours with).

    Scale shape — tokenize the VOCABULARY, not the corpus: the corpus
    collapses to (doc_id, word, n_occ) in one groupBy, the ≤O(unique
    words) distinct-word table is segmented in parallel by a
    mapInPandas whose closure carries only the 64 learned string pairs,
    and per-doc stats come from one equi-join (word → n_bpe, one row
    per distinct word, so even 'the' is join skew on the BOUNDED side)
    + one groupBy(doc_id).  Segmentation cost is ∝ |vocab|·merges, not
    corpus size.  The learned merge table is collected to the driver
    first — ≤BPE_N_MERGES rows, bounded by a constant, the same class
    as a broadcast model (the NB weights precedent), NOT a data
    collect.

    The DuckDB oracle recomputes everything independently: the same
    64-round chained-CTE learner extended with the final vocab
    re-segmentation (v64), joined back to the corpus.  A corpus whose
    vocabulary exhausts before BPE_N_MERGES merges is handled on both
    sides: the trainer breaks and this function applies the shorter
    table; the oracle's rounds emit a chr(30) no-op sentinel so its
    v-chain keeps the correct final segmentation (pinned by a crafted
    1-merge-corpus test)."""
    merges = [
        (r["merge_left"], r["merge_right"])
        for r in doc_bpe_learn_merges(spark, sf_dir)
        .orderBy("merge_rank")
        .collect()
    ]
    d = _docs(spark, sf_dir)
    toks = d.select("doc_id", F.explode(word_tokens(F.col("text"))).alias("word"))
    dw = toks.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("n_occ"))
    mapping = (
        dw.select("word")
        .distinct()
        .mapInPandas(_bpe_segmenter(merges), "word string, n_bpe bigint")
    )
    per = (
        dw.join(mapping, "word")
        .groupBy("doc_id")
        .agg(
            F.sum("n_occ").alias("n_words"),
            F.sum(F.col("n_occ") * F.length("word")).alias("n_syms"),
            F.sum(F.col("n_occ") * F.col("n_bpe")).alias("n_bpe_tokens"),
        )
    )
    z = F.lit(0)
    return (
        d.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_words"), z).cast("bigint").alias("n_words"),
            F.coalesce(F.col("n_syms"), z).cast("bigint").alias("n_syms"),
            F.coalesce(F.col("n_bpe_tokens"), z)
            .cast("bigint")
            .alias("n_bpe_tokens"),
            (F.coalesce(F.col("n_syms"), z) - F.coalesce(F.col("n_bpe_tokens"), z))
            .cast("bigint")
            .alias("tokens_saved"),
        )
    )


TFIDF_TOP_K = 3
TFIDF_SCALE = 1_000_000_000  # integer-scaled score: (tf * 1e9) div df


def doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-k characteristic terms by tf-idf — the classic
    keyword-extraction / topic-signal column of a corpus pipeline
    (inverted-index statistics reduced to the per-doc ranking view).

    Determinism discipline: the score is the LINEAR-idf surrogate
    (tf · S) div df as an exact bigint — true log-idf needs libm ln(),
    whose last-ulp behaviour differs between the JVM and DuckDB and
    would break the bit-identical hash gate; tf/df preserves the
    "frequent here, rare elsewhere" ordering the keyword view needs,
    and ties break deterministically by term.  Tokens are lowercased
    [a-z0-9]+ runs (a regex class Java regex and RE2 agree on).

    Spark-first plan: one explode → groupBy(doc_id, term) for tf (the
    exploded frame partial-aggregates map-side), the tf frame reduced by
    term for df (no second scan of the corpus), then a shuffle join on
    term and a per-doc top-k window.  No step holds unbounded state: tf
    is bounded by per-doc vocabulary, df by global vocabulary, and the
    hot-term join skew ("the" in every doc) is bounded because the df
    side carries ONE row per term."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    toks = d.select("doc_id", F.explode(word_tokens(F.col("text"))).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(df_, "term").withColumn(
        "score_scaled", F.expr(f"(tf * {TFIDF_SCALE}) div df")
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_scaled").desc(), F.col("term")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TFIDF_TOP_K)
        .select(
            "doc_id",
            F.col("rk").cast("int").alias("rk"),
            "term",
            F.col("tf").cast("bigint").alias("tf"),
            F.col("df").cast("bigint").alias("df"),
            F.col("score_scaled").cast("bigint").alias("score_scaled"),
        )
    )


NB_BUCKETS = 1024      # hashed token feature space (fastText-style)
NB_SCALE = 1_000_000   # integer-scaled per-token posterior weights


def doc_nb_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEARNED quality filter — the CCNet/fastText-style classifier step
    of a training-data pipeline: a Naive-Bayes-family model over hashed
    token buckets, TRAINED on a label already in the corpus (the
    heuristic quality band `keep` = quality_score >= 0.5, the exact
    expression doc_quality_score gates), then scored back over every
    document.  Corpus pipelines use exactly this shape to generalise a
    hand-labelled / heuristic seed signal (CCNet trains against
    Wikipedia; GPT-3's WebText filter is the same idea).

    Log-free integer surrogate (the tf-idf linear-idf precedent): the
    trained weight of bucket b is the Laplace-smoothed EMPIRICAL
    POSTERIOR  w_b = ((c_hi_b + 1) · S) div (c_hi_b + c_lo_b + 2)  — a
    pure integer in [0, S] (class priors arrive for free because the
    counts reflect prevalence), and a document's score is the SUM of
    its tokens' w_b (per-token posterior votes replace the NB
    log-likelihood sum; both are monotone in per-token evidence).
    Decision: the threshold is TRAINED too — per-doc evidence rate
    r_d = score div n_tok, decision boundary τ = (μ_hi + μ_lo) div 2,
    the midpoint of the class-conditional mean rates (every mean an
    integer floor-div; the floors are deterministic and mirrored).  A
    fixed mean-posterior > 1/2 rule is vacuous under the ~5:1 band
    imbalance (predicts the majority class for every doc — the
    pagerank vacuous-gate trap, caught by the confusion gauge); the
    trained midpoint measures balanced accuracy 0.74–0.82 at
    sf0.001–0.1 against the 0.5 majority-predictor floor, with all
    four confusion cells live.  Every quantity is an exact bigint,
    bit-identical in DuckDB.

    Spark-first scale shape: ONE corpus scan → token explode → the
    training groupBy is bounded at NB_BUCKETS rows (map-side partial
    agg), the trained model comes back as a BROADCAST join (≤1024 rows
    — the model is small by construction, like every production linear
    classifier), and scoring is one per-doc groupBy.  No self-join, no
    driver collect; the bucketed token frame is persisted once and
    shared by the train and score passes."""
    from .caching import track_persist

    d = _docs(spark, sf_dir)
    _, _, _, score = _quality_parts()
    # persist ONLY (doc_id, label_hi): caching the corpus text alongside
    # would double the query-lifetime cache for nothing (round-7 review).
    # The explode branch recomputes the deterministic label expression
    # inline during its own scan — bit-identical by construction — in
    # the SAME projection as the token array, exploded after: a label
    # selected next to the explode lands in a Project above the Generate
    # and runs once per token (~54× per doc at sf0.1), not once per doc.
    label = (score >= 0.5).alias("label_hi")
    lab = track_persist(d.select("doc_id", label))
    # hash the VOCABULARY, not every token occurrence (the doc_bpe_apply
    # discipline), and keep BOTH corpus passes light: the training pass
    # aggregates (label, tok) occurrence counts — output bounded by
    # 2·|vocab| rows, map-side combinable, no per-doc key — and the
    # scoring pass re-derives each token's trained weight through ONE
    # broadcast tok→w map (|vocab| rows) before a per-doc sum.  The
    # per-token polynomial char fold runs once per DISTINCT token
    # (O(vocab), bounded by the language, not the corpus); every
    # aggregate is the same exact integer sum as the per-occurrence
    # form, so weights and scores are bit-identical.
    tok_lab = d.select(label, word_tokens(F.col("text")).alias("toks")).select(
        "label_hi", F.explode("toks").alias("tok")
    )
    tcounts = tok_lab.groupBy("tok").agg(
        F.sum(F.when(F.col("label_hi"), 1).otherwise(0)).alias("t_hi"),
        F.sum(F.when(~F.col("label_hi"), 1).otherwise(0)).alias("t_lo"),
    )
    bcounts = tcounts.select(
        (poly_hash(F.col("tok")) % NB_BUCKETS).alias("b"), "tok", "t_hi", "t_lo"
    )
    weights = (
        bcounts.groupBy("b")
        .agg(F.sum("t_hi").alias("c_hi"), F.sum("t_lo").alias("c_lo"))
        .select("b", F.expr(f"((c_hi + 1) * {NB_SCALE}) div (c_hi + c_lo + 2)").alias("w"))
    )
    tokw = bcounts.select("b", "tok").join(F.broadcast(weights), "b").select("tok", "w")
    # tok→w is vocabulary-sized (language-bounded, not constant-bounded),
    # so no forced broadcast: AQE picks broadcast at bench scale, and at
    # a 100 TB vocabulary this degrades gracefully to a shuffle join
    scored = (
        d.select("doc_id", F.explode(word_tokens(F.col("text"))).alias("tok"))
        .join(tokw, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.sum("w").alias("nb_score_scaled"),
        )
    )
    rated = track_persist(
        lab
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            "label_hi",
            F.coalesce(F.col("n_tok"), F.lit(0)).alias("n_tok"),
            F.coalesce(F.col("nb_score_scaled"), F.lit(0)).alias("nb_score_scaled"),
            F.expr(
                "coalesce(nb_score_scaled, 0) div greatest(coalesce(n_tok, 0), 1)"
            ).alias("rate_scaled"),
        )
    )
    tau = rated.agg(
        F.sum(F.when(F.col("label_hi") & (F.col("n_tok") > 0), F.col("rate_scaled"))).alias("s_hi"),
        F.sum(F.when(F.col("label_hi") & (F.col("n_tok") > 0), 1).otherwise(0)).alias("k_hi"),
        F.sum(F.when(~F.col("label_hi") & (F.col("n_tok") > 0), F.col("rate_scaled"))).alias("s_lo"),
        F.sum(F.when(~F.col("label_hi") & (F.col("n_tok") > 0), 1).otherwise(0)).alias("k_lo"),
    ).select(
        F.expr(
            "((coalesce(s_hi, 0) div greatest(k_hi, 1))"
            " + (coalesce(s_lo, 0) div greatest(k_lo, 1))) div 2"
        ).alias("tau")
    )
    return rated.crossJoin(F.broadcast(tau)).select(
        "doc_id",
        "label_hi",
        F.col("n_tok").cast("bigint").alias("n_tok"),
        F.col("nb_score_scaled").cast("bigint").alias("nb_score_scaled"),
        F.col("rate_scaled").cast("bigint").alias("rate_scaled"),
        ((F.col("n_tok") > 0) & (F.col("rate_scaled") > F.col("tau"))).alias("pred_hi"),
    )


def doc_nb_quality_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 2×2 confusion matrix of the learned quality filter against
    its training band — the MEASURED-gauge twin (the
    sketch_bloom_semijoin precedent: the claim 'the classifier learns
    the band' is a gate value, not prose).  pct_scaled = exact
    integer share of the corpus per cell ((n·10^6) div total)."""
    scored = doc_nb_quality_score(spark, sf_dir)
    cells = scored.groupBy("label_hi", "pred_hi").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    total = cells.agg(F.sum("n_docs").alias("total"))
    return (
        cells.crossJoin(F.broadcast(total))
        .select(
            "label_hi",
            "pred_hi",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.expr(f"(n_docs * {NB_SCALE}) div total").cast("bigint").alias("pct_scaled"),
        )
    )


def _raw_url(d: DataFrame) -> Column:
    did = F.col("doc_id")
    return F.concat(
        F.lit("HTTPS://WWW.Example"), did % 5, F.lit(".COM:443/"),
        F.col("source"), F.lit("/Page"), did,
        F.lit("?utm_source=feed&ref="), did % 3, F.lit("&id="), did,
        F.lit("#Section"), did % 7,
    )


def doc_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalisation for crawl-dedup keys: strip the fragment,
    lowercase scheme+authority, drop the default :443 port, remove
    utm_* tracking params — the standard canonical-URL recipe, as pure
    string/regex expressions (no UDF, no backreferences so Java regex and
    RE2 agree).  n_dups counts docs sharing a canonical URL (the dedup
    key the canonicalisation exists for)."""
    d = _docs(spark, sf_dir)
    url = _raw_url(d)
    x = F.regexp_replace(url, "#.*$", "")  # fragment
    head = F.regexp_extract(x, "^[^/]*//[^/]*", 0)  # scheme://authority
    rest = F.substring(x, F.length(head) + 1, F.lit(1 << 30))
    head = F.regexp_replace(F.lower(head), ":443$", "")
    rest = F.regexp_replace(rest, "utm_[^&]*&", "")
    rest = F.regexp_replace(rest, "[?&]utm_[^&]*$", "")
    canonical = F.concat(head, rest)
    out = d.select("doc_id", url.alias("url"), canonical.alias("canonical_url"))
    from pyspark.sql import Window

    w = Window.partitionBy("canonical_url")
    return out.select(
        "doc_id", "url", "canonical_url",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_dups"),
    )
