"""Text-analysis operators over ``documents`` (SURVEY.md §2.9 [EXT]).

Column-expression / higher-order-function programs (JVM-side): token
statistics, quality scoring, corpus-driven language identification, and
rolling-hash fingerprints.  The one Arrow hop (`repetition_score`) computes
integer counts in a vectorized pandas_udf because interpreted HOFs get no
codegen and no common-subexpression elimination — see its docstring.

Scale notes: token_stats/quality/fingerprint/language_id are
embarrassingly parallel map-only plans (no shuffle at all) — language_id
scores fixed per-language profiles per row (r12; the old corpus-vote
variant needed two vocabulary shuffles and collapsed to the majority
label on shared-vocabulary corpora).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import stable_hash64
from ..functions.hints import runtime_broadcast
from ..sources.tables import build_once, load_table

_FP_MOD = 1_000_000_007


def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics (map-only, no shuffle)."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n_tokens = F.size(words).cast("long")
    chars_no_space = F.length(F.regexp_replace(F.col("text"), " ", "")).cast("long")
    return docs.select(
        "doc_id",
        "lang",
        n_tokens.alias("n_tokens"),
        F.size(F.array_distinct(words)).cast("long").alias("n_distinct_tokens"),
        (chars_no_space.cast("double") / n_tokens.cast("double")).alias("avg_token_len"),
    )


def _quality_score_expr():
    """The round-6 heuristic quality score as a Column (shared by
    ``quality_score`` and ``quality_pr_sweep`` — one formula, one truth)."""
    words = F.split(F.col("text"), " ")
    n = F.size(words).cast("double")
    distinct_ratio = F.size(F.array_distinct(words)).cast("double") / n
    avg_len = F.length(F.regexp_replace(F.col("text"), " ", "")).cast("double") / n
    score = (
        F.lit(0.4) * F.least(n / F.lit(50.0), F.lit(1.0))
        + F.lit(0.4) * distinct_ratio
        + F.lit(0.2) * F.least(avg_len / F.lit(8.0), F.lit(1.0))
    )
    return F.round(score, 6)


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score in [0,1]: length, lexical diversity, token
    shape — the length/ratio scoring family used in LLM data pipelines."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id",
        _quality_score_expr().alias("quality_score"),
        (F.size(words) >= 5).alias("passes_min_length"),
    )


# Per-language identification profiles (r12, replacing the r1 corpus-vote
# scorer per the r11 verdict directive): top function words + a
# diagnostic-character class per language.  These are FIXED public
# linguistic facts (the fastText/langdetect feature family), not fixture
# statistics — the scorer needs no training pass, no vocabulary join,
# and is a pure map-only Column program.  Chinese has no space-split
# function words; its whole signal is the CJK character block.
LANG_PROFILES: dict[str, tuple[list[str], str | None]] = {
    "de": (
        ["der", "die", "das", "und", "ist", "nicht", "ein", "eine", "mit", "von"],
        "[äöüß]",  # ä ö ü ß
    ),
    "en": (["the", "a", "of", "and", "to", "is", "it", "that", "for", "on"], None),
    "es": (
        ["el", "los", "las", "una", "por", "con", "para", "como", "pero", "sus"],
        "[áíñóú¿¡]",  # á í ñ ó ú ¿ ¡
    ),
    "fr": (
        ["le", "les", "et", "est", "dans", "que", "pour", "des", "avec", "sur"],
        "[àâçéèêîôû]",  # à â ç é è ê î ô û
    ),
    "zh": ([], "[一-鿿]"),
}
_STOPWORD_WEIGHT = 3  # one function-word hit ≈ three diagnostic chars


def language_scores(text_col):
    """Per-language integer evidence scores for a text Column:
    ``3 * |profile function-word tokens| + |diagnostic chars|`` — all
    int64 counts (regexp + HOF filter, JVM-side), so the argmax below is
    engine-portable by construction.  Returns {lang: Column}."""
    lower = F.lower(text_col)
    toks = F.split(lower, " ", -1)
    out = {}
    for lang, (stop, chars) in LANG_PROFILES.items():
        score = F.lit(0).cast("long")
        if stop:
            hits = F.size(F.filter(toks, lambda t: t.isin(*stop))).cast("long")
            score = score + F.lit(_STOPWORD_WEIGHT).cast("long") * hits
        if chars:
            score = score + F.regexp_count(lower, F.lit(chars)).cast("long")
        out[lang] = score
    return out


def classify_language(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach ``predicted_lang`` to any DataFrame with a text column:
    argmax of the profile scores, alphabetical-first tiebreak (a CASE
    chain mirrored textually in the oracle), ``'und'`` (ISO 639-3
    undetermined) when no profile fires at all — a langid must say
    "don't know" rather than guess on profile-free text."""
    scores = language_scores(F.col(text_col))
    langs = sorted(scores)
    best = F.greatest(*[scores[lg] for lg in langs])
    pred = F.when(best == 0, F.lit("und"))
    for lg in langs:
        pred = pred.when(scores[lg] == best, F.lit(lg))
    return df.withColumn("predicted_lang", pred)


def language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profile-based language ID (r12 rewrite; no external model, no
    training pass): per document, integer evidence scores from the
    public per-language profiles above (function-word hits x3 +
    diagnostic-character hits), argmax with alphabetical tiebreak,
    'und' when nothing fires.

    Replaces the r1 corpus-vote scorer, whose document-frequency vote
    provably collapsed to the majority label on any shared-vocabulary
    corpus (the failure `langid_confusion_matrix` surfaced in r11).
    Honesty note, pinned by fixture probes (r12): the documents fixture
    is English word-soup under SYNTHETIC lang labels — per-label word
    rates, presence rates, and length distributions are uniform across
    labels (no text signal exists), so on the FIXTURE this scorer
    correctly answers 'en' (or 'und' for the ~5% of docs carrying no
    function word); real-language recall is pinned instead in
    ``test_r12_ops.py`` on constructed de/en/es/fr/zh texts, where the
    profiles go 5/5.

    Scale shape: map-only (zero shuffles — strictly better than the
    corpus-vote's two vocabulary exchanges); at 100 TB this is a free
    rider on any scan that already touches ``text``."""
    docs = load_table(spark, sf_dir, "documents")
    return classify_language(docs.select("doc_id", "lang", "text")).select(
        "doc_id",
        "lang",
        "predicted_lang",
        (F.col("lang") == F.col("predicted_lang")).alias("correct"),
    )


# GPT-2-ish pretokenizer classes: alpha runs, digit runs, single symbols.
# Both engines' regex dialects (Java / RE2) agree on this subset.
_BPE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style regex tokenization (the pretokenizer pass of a subword
    tokenizer — SURVEY.md §2.9 token counting beyond whitespace): token
    counts by class plus mean token length, all JVM-side regexp HOFs (the
    shape a 100 TB token-budget accounting job needs — map-only)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.regexp_extract_all("text", F.lit(_BPE_PATTERN), 0)
    words = F.regexp_extract_all("text", F.lit("[A-Za-z]+"), 0)
    numbers = F.regexp_extract_all("text", F.lit("[0-9]+"), 0)
    n = F.size(toks).cast("long")
    total_chars = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return docs.select(
        "doc_id",
        n.alias("n_bpe_tokens"),
        F.size(words).cast("long").alias("n_word_tokens"),
        F.size(numbers).cast("long").alias("n_number_tokens"),
        (n - F.size(words) - F.size(numbers)).cast("long").alias("n_symbol_tokens"),
        (total_chars.cast("double") / n.cast("double")).alias("avg_bpe_token_len"),
    )


SAMPLE_PCT = 10  # deterministic_sample keep-rate (percent)
STRATUM_K = 5  # stratified_sample docs kept per language


def deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash sampling — the reproducible downsampling pass a
    training-data pipeline needs (same subset on every run/engine, no RNG
    state): keep a doc iff md5-hash(doc_id) mod 100 < SAMPLE_PCT.
    Map-only; composes with any upstream filter without reshuffling."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.pmod(stable_hash64(F.col("doc_id").cast("string")), F.lit(100))
    return docs.filter(bucket < SAMPLE_PCT).select("doc_id", "lang", "source", "n_chars")


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: at most STRATUM_K docs per
    language, chosen by hash order (hash-asc, doc_id tiebreak) — the
    per-domain/per-language quota capping step of corpus curation, as a
    single window pass.

    Scale note: few huge strata would bottleneck the per-stratum window
    sort; the scalable form is storage.bucketing.salted_topk_per_group
    (two-phase salted top-k, identical output)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    h = stable_hash64(F.col("doc_id").cast("string"))
    w = Window.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        docs.withColumn("pick_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("pick_rank") <= STRATUM_K)
        .select("doc_id", "lang", "pick_rank")
    )


TFIDF_TOP_K = 3


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document TF-IDF top terms — the keyword-extraction /
    representation step of corpus analysis, fully relational:

    tf(doc, word) counts from one explode; df(word) from a word-keyed
    aggregate (bounded by vocabulary, not corpus — the same scaling
    argument as language_id); idf = (N+1)/(df+1) — the RATIONAL idf
    variant, chosen over ln() deliberately: IEEE division is correctly
    rounded on every engine while libm ln() may differ in the last ulp,
    and cross-engine bit-stability is this repo's verification contract;
    top-3 per doc by score with (score desc, word asc) determinism.

    Scale note: the window ranks within doc_id — partition-by-document,
    never a global sort; a salted two-phase top-k (storage.bucketing)
    drops in if some documents are gigantic."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("word"))
    tf = tok.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    df = tf.groupBy("word").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df, "word")
        .join(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf").cast("double")
                * ((F.col("n_docs") + 1).cast("double") / (F.col("df") + 1).cast("double")),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("word").asc())
    return (
        scored.withColumn("term_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("term_rank") <= TFIDF_TOP_K)
        .select("doc_id", "word", F.col("tf").cast("long").alias("tf"), "tfidf", "term_rank")
    )


QUALITY_FILTER_MIN_SCORE = 0.5


def quality_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data admission filter — the step everything
    else in this family exists for, as ONE declarative plan:

    keep a document iff (a) it passes the min-length gate, (b) its quality
    score clears the threshold, and (c) it is the exact-dedup
    representative of its text (min doc_id per distinct text).

    Composition stays relational end-to-end: the quality predicate is a
    map-side filter, the dedup-representative check is an aggregate
    semi-join on the text hash — Catalyst fuses (a)+(b) into the scan."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n = F.size(words).cast("double")
    distinct_ratio = F.size(F.array_distinct(words)).cast("double") / n
    avg_len = F.length(F.regexp_replace(F.col("text"), " ", "")).cast("double") / n
    score = F.round(
        F.lit(0.4) * F.least(n / F.lit(50.0), F.lit(1.0))
        + F.lit(0.4) * distinct_ratio
        + F.lit(0.2) * F.least(avg_len / F.lit(8.0), F.lit(1.0)),
        6,
    )
    representatives = docs.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    return (
        docs.join(representatives.select("doc_id"), "doc_id", "left_semi")
        .filter((F.size(words) >= 5) & (score >= QUALITY_FILTER_MIN_SCORE))
        .select("doc_id", "lang", score.alias("quality_score"))
    )


CHUNK_SIZE = 64  # tokens per chunk
CHUNK_STRIDE = 48  # window stride -> 16-token overlap


def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking — the context-window segmentation
    step of LLM data prep (fixed token windows, overlapping stride), as a
    pure HOF program: starts = sequence(1, n, stride); each chunk is a
    slice of the token array.  Map-only with one explode — no shuffle, no
    UDF; at 100 TB chunking is a scan-stage transform that composes with
    any downstream filter without repartitioning."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n = F.size(words)
    starts = F.sequence(F.lit(1), n, F.lit(CHUNK_STRIDE))
    chunk = F.explode(starts).alias("start")
    out = docs.select("doc_id", words.alias("words"), chunk)
    piece = F.slice(F.col("words"), F.col("start"), CHUNK_SIZE)
    return out.select(
        "doc_id",
        (((F.col("start") - 1) / CHUNK_STRIDE).cast("long")).alias("chunk_id"),
        F.size(piece).cast("long").alias("n_chunk_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


def best_doc_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source representative selection — the keep-best-of-domain pass
    of corpus curation: highest quality score per source, doc_id tiebreak.

    argmax as min(struct(-score, doc_id, ...)): ONE hash aggregate with
    map-side combine — no window sort, so a source with a billion docs
    costs the same shuffle bytes as one with ten (the pattern this repo
    uses for every bounded-key argmax)."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n = F.size(words).cast("double")
    distinct_ratio = F.size(F.array_distinct(words)).cast("double") / n
    avg_len = F.length(F.regexp_replace(F.col("text"), " ", "")).cast("double") / n
    score = F.round(
        F.lit(0.4) * F.least(n / F.lit(50.0), F.lit(1.0))
        + F.lit(0.4) * distinct_ratio
        + F.lit(0.2) * F.least(avg_len / F.lit(8.0), F.lit(1.0)),
        6,
    )
    return (
        docs.select("source", "doc_id", score.alias("q"))
        .groupBy("source")
        .agg(F.min(F.struct((-F.col("q")).alias("neg_q"), F.col("doc_id"))).alias("top"))
        .select(
            "source",
            F.col("top.doc_id").alias("doc_id"),
            (-F.col("top.neg_q")).alias("quality_score"),
        )
    )


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling-hash fingerprint: left fold of
    (acc*31 + h(word)) mod 1e9+7 over the token sequence (map-only)."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    hashes = F.transform(words, lambda w: stable_hash64(w))
    fp = F.aggregate(
        hashes,
        F.lit(0).cast("long"),
        lambda acc, h: (acc * 31 + h) % F.lit(_FP_MOD),
    )
    return docs.select("doc_id", fp.alias("fingerprint"))


# ---------------------------------------------------------------------------
# PII scrubbing, benchmark-contamination detection, repetition scoring —
# the remaining text-hygiene passes of an LLM data pipeline.

PII_EMAIL = r"[A-Za-z0-9._]+@[A-Za-z0-9.]+"
PII_CARD = r"[0-9]{4}-[0-9]{4}-[0-9]{4}-[0-9]{4}"
PII_PHONE = r"[0-9]{3}-[0-9]{3}-[0-9]{4}"


def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex PII redaction (emails / card numbers / phone numbers).

    The fixture documents are synthetic word-salad with no natural PII, so
    the contact text is synthesized deterministically from ``customer``
    (name-derived email, custkey-derived phone and card) — the redaction
    logic itself is the thing under test, and it runs over real strings.

    Card is scrubbed BEFORE phone: the two patterns share the digit-group
    shape and redaction must not leave a partially-masked card.  Map-only:
    three regexp_replace passes fused into one projection, no shuffle —
    at 100 TB this is a scan-stage transform like any other filter."""
    cust = load_table(spark, sf_dir, "customer")
    key = F.col("c_custkey")
    digits3 = F.lpad((key % 1000).cast("string"), 3, "0")
    digits4 = F.lpad((key % 10000).cast("string"), 4, "0")
    email = F.concat(
        F.lower(F.replace(F.col("c_name"), F.lit("#"), F.lit("."))), F.lit("@example.com")
    )
    phone = F.concat(F.lit("555-"), digits3, F.lit("-"), digits4)
    card = F.concat(F.lit("4111-"), digits4, F.lit("-"), digits4, F.lit("-"), digits4)
    text = F.concat(
        F.lit("Contact "), F.col("c_name"), F.lit(" at "), email,
        F.lit(" or call "), phone, F.lit(" (card "), card, F.lit(")."),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(text, PII_EMAIL, "[EMAIL]"), PII_CARD, "[CARD]"
        ),
        PII_PHONE,
        "[PHONE]",
    )
    return cust.select(
        key.alias("custkey"),
        scrubbed.alias("scrubbed_text"),
        F.regexp_count(text, F.lit(PII_EMAIL)).cast("long").alias("n_emails"),
        F.regexp_count(text, F.lit(PII_CARD)).cast("long").alias("n_cards"),
        F.regexp_count(text, F.lit(PII_PHONE)).cast("long").alias("n_phones"),
    )


CONTAM_BENCH_MOD = 7  # doc_id % MOD == 0 -> held-out benchmark set
CONTAM_NGRAM = 4  # word n-gram width for the overlap check


def _word_ngrams(words, n: int):
    """Column expr: array of space-joined word n-grams (empty if < n words).

    Formulated as n-1 zip_with folds over shifted slices of the word
    array: gram_i = w[i] + ' ' + w[i+1] + ... — higher-order functions run
    INTERPRETED (no whole-stage codegen), so per-element work is the whole
    cost; n contiguous slice copies + a 2-arg concat per element measured
    3x faster at sf0.1 than the per-element ``slice + array_join`` (and
    ~6x faster than unrolled non-literal ``element_at``, which pays bounds
    handling per probe).  The gram explode feeds every corpus-frequency
    pass (boilerplate, contamination, Jaccard shingles), so this inner
    loop matters.  Output strings are byte-identical across all three
    forms (verified by exceptAll in both directions)."""
    m = F.size(words) - (n - 1)
    out = F.slice(words, 1, F.greatest(m, F.lit(0)))
    for k in range(1, n):
        shifted = F.slice(words, 1 + k, F.greatest(m, F.lit(0)))
        out = F.zip_with(out, shifted, lambda x, y: F.concat(x, F.lit(" "), y))
    return out


def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination detection: which training documents share a
    word 4-gram with the held-out benchmark slice (doc_id % 7 == 0)?

    The canonical eval-leakage scan of LLM data prep.  Shape: the
    benchmark side collapses to its DISTINCT n-grams — bounded by the
    benchmark corpus (millions of grams), not the training corpus
    (trillions) — and the training side explodes grams and semi-aggregates
    against it.  The join key is the gram string; at 100 TB the benchmark
    side is broadcast and the scan never shuffles the documents
    themselves, only (doc_id, gram) pairs that survive the join."""
    docs = load_table(spark, sf_dir, "documents")
    grams = _word_ngrams(F.split(F.col("text"), " "), CONTAM_NGRAM)
    exploded = docs.select("doc_id", F.explode(grams).alias("gram"))
    bench = (
        exploded.filter(F.col("doc_id") % CONTAM_BENCH_MOD == 0)
        .select("gram")
        .distinct()
    )
    train = exploded.filter(F.col("doc_id") % CONTAM_BENCH_MOD != 0)
    return (
        # the pseudo-benchmark gram set is a corpus slice AND sits above
        # a distinct barrier (a limit-probe would re-run the explode), so
        # the size gate is AQE's runtime SMJ->broadcast conversion
        train.join(runtime_broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.countDistinct("gram").alias("n_shared_grams"))
    )


REPETITION_DUP3_MAX = 0.1  # dup-trigram ratio above which a doc is flagged


def repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition metrics — the boilerplate/loop detector of
    LLM data quality filtering:

    - dup_trigram_ratio: 1 - distinct/total word trigrams (repeated
      phrases inflate it);
    - top_token_ratio: frequency of the most common token / total tokens
      (degenerate repetition inflates it).

    Shape: the four integer counts (tokens, trigrams, distinct trigrams,
    top-token count) come from ONE vectorized Arrow pass (`pandas_udf`);
    the ratio arithmetic and rounding stay JVM-side Spark expressions so
    the floating-point path is bit-identical to the DuckDB oracle.
    Integer counts are exact on any engine, which is what makes the
    Python hop safe for parity.

    Why not pure HOFs: higher-order functions are interpreted (no
    whole-stage codegen) and common-subexpression elimination does not
    cover them, so the trigram array was re-evaluated per reference —
    8 s at sf0.1 vs ~0.3 s for this formulation.  Plan is still map-only
    zero-shuffle (ArrowEvalPython is a narrow transform), so at 100 TB
    this rides the scan stage like any projection."""
    docs = load_table(spark, sf_dir, "documents")

    @F.pandas_udf("n_tokens long, n_tri long, n_dis_tri long, top_count long")
    def _rep_counts(texts: pd.Series) -> pd.DataFrame:
        rows = []
        for t in texts:
            ws = t.split(" ")
            n = len(ws)
            tris = list(zip(ws, ws[1:], ws[2:]))  # == width-3 word n-grams
            counts: dict = {}
            for w in ws:
                counts[w] = counts.get(w, 0) + 1
            rows.append((n, len(tris), len(set(tris)), max(counts.values())))
        return pd.DataFrame(rows, columns=["n_tokens", "n_tri", "n_dis_tri", "top_count"])

    c = _rep_counts(F.col("text"))
    counted = docs.select("doc_id", c.alias("c"))
    dup_ratio = F.when(
        F.col("c.n_tri") > 0,
        F.round(
            1 - F.col("c.n_dis_tri").cast("double") / F.col("c.n_tri").cast("double"), 6
        ),
    ).otherwise(F.lit(0.0))
    return counted.select(
        "doc_id",
        F.col("c.n_tokens").alias("n_tokens"),
        dup_ratio.alias("dup_trigram_ratio"),
        F.round(
            F.col("c.top_count").cast("double") / F.col("c.n_tokens").cast("double"), 6
        ).alias("top_token_ratio"),
        (dup_ratio > REPETITION_DUP3_MAX).alias("is_repetitive"),
    )


GOPHER_STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "that")
GOPHER_MIN_WORDS = 20
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MIN_STOPWORDS = 2
GOPHER_MIN_ALPHA_RATIO = 0.8
GOPHER_MAX_SYMBOL_RATIO = 0.1


def _gopher_passes_expr():
    """The combined Gopher pass flag as a Column (shared by
    ``gopher_quality_rules`` and ``quality_pr_sweep``)."""
    words = F.split(F.col("text"), " ")
    n = F.size(words).cast("double")
    mean_word_len = (
        F.length(F.regexp_replace(F.col("text"), " ", "")).cast("double") / n
    )
    stopword_count = F.size(
        F.filter(words, lambda w: w.isin(*GOPHER_STOPWORDS))
    ).cast("long")
    alpha_ratio = (
        F.size(F.filter(words, lambda w: w.rlike("[a-zA-Z]"))).cast("double") / n
    )
    symbol_ratio = (
        (
            F.regexp_count(F.col("text"), F.lit("#"))
            + F.regexp_count(F.col("text"), F.lit(r"\.\.\."))
        ).cast("double")
        / n
    )
    return (
        F.size(words).between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
        & mean_word_len.between(GOPHER_MIN_MEAN_WORD_LEN, GOPHER_MAX_MEAN_WORD_LEN)
        & (stopword_count >= GOPHER_MIN_STOPWORDS)
        & (alpha_ratio >= GOPHER_MIN_ALPHA_RATIO)
        & (symbol_ratio <= GOPHER_MAX_SYMBOL_RATIO)
    )


def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style heuristic quality rules (Rae et al. 2021, §A1.1 —
    public paper): word-count bounds, mean-word-length band, minimum
    stopword count, alphabetic-word fraction, and symbol-to-word ratio,
    plus the combined pass flag.  The standard rule-based pre-filter that
    fronts every LLM data pipeline.

    Map-only plan — every rule is a higher-order function over the split
    word array, no shuffle, embarrassingly parallel at any scale.  (The
    line-shape rules from the paper — bullet/ellipsis line ratios — are
    omitted: this corpus is single-line by construction.)"""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n = F.size(words).cast("double")
    mean_word_len = (
        F.length(F.regexp_replace(F.col("text"), " ", "")).cast("double") / n
    )
    stopword_count = F.size(
        F.filter(words, lambda w: w.isin(*GOPHER_STOPWORDS))
    ).cast("long")
    alpha_ratio = (
        F.size(F.filter(words, lambda w: w.rlike("[a-zA-Z]"))).cast("double") / n
    )
    symbol_ratio = (
        (
            F.regexp_count(F.col("text"), F.lit("#"))
            + F.regexp_count(F.col("text"), F.lit(r"\.\.\."))
        ).cast("double")
        / n
    )
    passes = _gopher_passes_expr()
    return docs.select(
        "doc_id",
        F.size(words).cast("long").alias("n_words"),
        F.round(mean_word_len, 6).alias("mean_word_len"),
        stopword_count.alias("stopword_count"),
        F.round(alpha_ratio, 6).alias("alpha_word_ratio"),
        F.round(symbol_ratio, 6).alias("symbol_ratio"),
        passes.alias("passes_gopher"),
    )


BOILER_SPAN_N = 3  # word n-gram width for the corpus-frequency span scan
BOILER_MIN_FRACTION = 0.005  # span is boilerplate if in >= 0.5% of docs...
BOILER_MIN_DOCS = 3  # ...with an absolute floor of 3 docs
BOILER_DOC_RATIO = 0.5  # doc is boilerplate if > half its spans are


def boilerplate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style boilerplate detection, re-based from lines to word
    spans (this corpus is single-line): a span (word 3-gram) is
    boilerplate when it appears in >= max(3, 0.5% of corpus) DISTINCT
    documents; a document is boilerplate when more than half its spans
    are.  The corpus-frequency dedup-of-repeated-content pass (navigation
    chrome, license headers, templated text) of web-scale pipelines.

    Shape: per-doc DISTINCT spans -> groupBy span == document frequency
    (one shuffle on the span key, map-side combine); THRESHOLD FIRST, then
    a semi-join of positions against only the surviving boilerplate-span
    set — that set is ubiquitous-content-bounded (tiny by definition), so
    AQE broadcasts it and the full position stream never rides a span-key
    exchange; the per-doc span total is computed map-side from the word
    count.  The threshold is corpus-relative (like the shingle doc-freq
    cap in dedup.py) so the rule holds at any scale without retuning."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    spans = docs.select(
        "doc_id", F.explode(_word_ngrams(words, BOILER_SPAN_N)).alias("span")
    )
    # document frequency: distinct (doc, span) first, then count per span
    doc_freq = (
        spans.distinct()
        .groupBy("span")
        .agg(F.count("*").alias("df"))
    )
    n_docs = docs.select(
        F.greatest(
            F.lit(BOILER_MIN_DOCS),
            F.ceil(F.count("*") * BOILER_MIN_FRACTION),
        ).alias("df_min")
    )
    boiler_set = (
        doc_freq.crossJoin(F.broadcast(n_docs))
        .filter(F.col("df") >= F.col("df_min"))
        .select("span")
    )
    n_boiler = (
        spans.join(boiler_set, "span", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_boiler_spans"))
    )
    n_spans = F.greatest(F.size(words) - (BOILER_SPAN_N - 1), F.lit(0)).cast("long")
    base = docs.select("doc_id", n_spans.alias("n_spans")).filter(
        F.col("n_spans") > 0
    )
    per_doc = base.join(n_boiler, "doc_id", "left").fillna(
        {"n_boiler_spans": 0}
    )
    ratio = F.col("n_boiler_spans").cast("double") / F.col("n_spans").cast("double")
    return per_doc.select(
        "doc_id",
        "n_spans",
        "n_boiler_spans",
        F.round(ratio, 6).alias("boiler_ratio"),
        (ratio > BOILER_DOC_RATIO).alias("is_boilerplate"),
    )


def bigram_fluency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram language-model fluency proxy: score each document by the
    average corpus frequency of its word bigrams (the KenLM-style "does
    this text look like the rest of the corpus" filter, without an
    external model).  Formulaic/boilerplate text scores high, line noise
    scores low; real pipelines threshold both tails.

    Shape: explode bigram positions -> count by bigram -> join positions
    back to counts -> per-doc mean.  The bigram count table is vocab^2-
    bounded (NOT broadcastable at 100 TB), so the join is an honest
    shuffle on the bigram key — exactly how distributed n-gram LM scoring
    runs; AQE handles the head-word skew.  The mean sums exact INTEGER
    counts (bigint->double is exact below 2^53 — no decimal->double
    conversion for an engine build to drift on, SURVEY §5 class 4) and
    divides once, mirrored.  Docs with < 2 tokens have no bigrams and
    are excluded (matching the oracle's WHERE)."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    exploded = (
        docs.filter(F.size(words) >= 2)
        .select("doc_id", F.explode(_word_ngrams(words, 2)).alias("bigram"))
    )
    counts = exploded.groupBy("bigram").agg(F.count("*").alias("cnt"))
    return (
        exploded.join(counts, "bigram")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            (F.sum("cnt").cast("double") / F.count("*")).alias(
                "avg_bigram_freq"
            ),
        )
    )


DSIR_TARGET_LANG = "en"


def dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weighting (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling" — public paper):
    score every document by how much its unigram distribution looks like a
    TARGET slice (here lang = 'en') vs. the full corpus, for importance
    resampling toward the target domain.

    Determinism contract: instead of summed log-probabilities (libm log is
    not cross-engine exact), each token's weight is the Laplace-smoothed
    probability RATIO as one rational expression — integer products (exact
    in doubles at this vocabulary scale; at 100 TB promote the products to
    decimal) and a single correctly-rounded divide — rounded to 6 before
    the exact decimal-sum mean.

    Shape: one conditional aggregation builds the (word, target-count,
    corpus-count) vocabulary table — vocabulary-bounded, NOT corpus-
    bounded; token positions join back to it (shuffle on the word key,
    AQE-salted under head-word skew) and fold to a per-doc mean."""
    from ..functions.scalars import dsum

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", F.explode(F.split(F.col("text"), " ")).alias("word")
    )
    is_tgt = (F.col("lang") == DSIR_TARGET_LANG).cast("long")
    vocab = tok.groupBy("word").agg(
        F.count("*").alias("c_all"), F.sum(is_tgt).alias("c_tgt")
    )
    totals = vocab.agg(
        F.sum("c_all").alias("tot_all"),
        F.sum("c_tgt").alias("tot_tgt"),
        F.count("*").alias("v"),
    )
    ratio = (
        (F.col("c_tgt") + 1).cast("double") * (F.col("tot_all") + F.col("v")).cast("double")
    ) / (
        (F.col("c_all") + 1).cast("double") * (F.col("tot_tgt") + F.col("v")).cast("double")
    )
    # floor(x*1e6 + 0.5) instead of round(): Spark rounds HALF_UP on
    # the double's exact decimal expansion while DuckDB rounds a scaled
    # double — at sf0.1 three documents landed within 1 ulp of a .5
    # boundary and the two conventions split.  The floor result stays an
    # exact INTEGER (micros) from here on: the r10/r11 gates proved that
    # feeding a high-precision decimal sum back through a double (the old
    # dsum/count floor chain) is a DuckDB-build-dependent conversion
    # (SURVEY §5 portability class 4), so the per-doc mean is one
    # mirrored integer division — (2*S6 + n) div (2*n), round-half-up of
    # exact integers, bit-equal in any engine build — and target-likeness
    # (avg > 1) is the exact integer comparison S6 > n * 1e6.
    r_micros = F.floor(ratio * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    scored = (
        tok.join(vocab, "word")
        .crossJoin(F.broadcast(totals))
        .select("doc_id", r_micros.alias("r_micros"))
    )
    agg = scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.sum("r_micros").alias("_s6"),
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        F.expr("(2 * _s6 + n_tokens) div (2 * n_tokens)")
        .cast("long")
        .alias("avg_importance_micros"),
        (F.col("_s6") > F.col("n_tokens") * F.lit(1000000)).alias(
            "is_target_like"
        ),
    )


BPE_MERGE_TOP_K = 20


def bpe_merge_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The statistic of one BPE tokenizer-training merge step (Sennrich et
    al. 2016, public): corpus-wide frequencies of adjacent symbol pairs
    within words, ranked — the argmax pair is what BPE would merge first.
    Real training iterates this; the per-step shape (and cost) is exactly
    this job, so it is the one to get right distributed.

    Shape: explode words -> explode in-word adjacent char pairs (map-side
    HOF, positions via Column.substr with a column offset) -> one count
    aggregate on the pair key (map-side combine; the pair-vocabulary is
    alphabet^2-bounded, so the shuffle is tiny regardless of corpus
    size) -> global top-k via a single bounded sort of the count table."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    word = F.explode(F.split(F.col("text"), " ")).alias("word")
    words = docs.select(word).filter(F.length("word") >= 2)
    pair_arr = F.transform(
        F.sequence(F.lit(1), F.length("word") - 1),
        lambda i: F.col("word").substr(i, F.lit(2)),
    )
    pairs = words.select(F.explode(pair_arr).alias("pair"))
    counted = pairs.groupBy("pair").agg(F.count("*").alias("cnt"))
    w = Window.orderBy(F.desc("cnt"), F.asc("pair"))
    return (
        counted.select(
            "pair", "cnt", F.row_number().over(w).cast("long").alias("merge_rank")
        )
        .filter(F.col("merge_rank") <= BPE_MERGE_TOP_K)
    )


VOCAB_TOP = 16


def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage: build the top-VOCAB_TOP corpus
    vocabulary (frequency desc, word asc — deterministic), then score
    every document's out-of-vocabulary token rate.  This is the coverage
    check run before committing to a tokenizer vocab size: the OOV-rate
    distribution tells you what a V-entry vocab leaves on the table.

    Shape: the vocabulary aggregate shuffles the (word, count) table —
    bounded by VOCABULARY size, not corpus size — and the selected top-V
    (driver-bounded, like the k-means quantizer) folds back into the plan
    as one array literal, so the per-document scoring pass is MAP-ONLY:
    an array_contains filter over each doc's token array, no explode, no
    join, no second shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    top = freq.orderBy(F.desc("cnt"), F.asc("word")).limit(VOCAB_TOP).collect()
    vocab = F.array(*[F.lit(w) for w in sorted(r["word"] for r in top)])
    words = F.split(F.col("text"), " ")
    n_tokens = F.size(words).cast("long")
    n_oov = F.size(F.filter(words, lambda w: ~F.array_contains(vocab, w))).cast("long")
    staged = docs.select("doc_id", n_tokens.alias("n_tokens"), n_oov.alias("n_oov"))
    return staged.select(
        "doc_id",
        "n_tokens",
        "n_oov",
        F.round(F.col("n_oov").cast("double") / F.col("n_tokens").cast("double"), 6).alias(
            "oov_rate"
        ),
    )


POSTINGS_CAP = 1000


def build_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build (the retrieval-side artifact of a corpus):
    per word, document frequency, total term frequency, and the posting
    list (doc_id:tf, doc_id ascending) as a CSV string — capped at
    POSTINGS_CAP entries per word so row width stays bounded when a
    stopword's df approaches corpus size (a production index shards
    postings by (word, block); the cap is that block boundary).

    Shape: one (doc_id, word) tf aggregate (explode -> map-side combine),
    then one word-keyed aggregate whose key space is VOCABULARY-bounded.
    collect_list order is engine-nondeterministic, so the posting array is
    sort_array'd before the join — bit-stable output on any partitioning.

    The CSV-string posting form (not array<struct>) follows the
    quant_csv convention: the driver's hash compare canonicalizes scalar
    cells only."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("word"))
    tf = tok.groupBy("word", "doc_id").agg(F.count("*").alias("tf"))
    postings = F.array_sort(
        F.collect_list(F.struct(F.col("doc_id"), F.col("tf")))
    )
    return tf.groupBy("word").agg(
        F.count("*").cast("long").alias("df"),
        F.sum("tf").cast("long").alias("total_tf"),
        F.array_join(
            F.transform(
                F.slice(postings, 1, POSTINGS_CAP),
                lambda p: F.concat_ws(":", p["doc_id"].cast("string"), p["tf"].cast("string")),
            ),
            ",",
        ).alias("postings_csv"),
    )


BM25_QUERY = ("join", "spark", "table")  # fixed demo query, alphabetical
BM25_TOP_K = 20


def _term_tf(words, term: str):
    """tf of one query term as a map-side HOF (single-arg lambda closure)."""
    return F.size(F.filter(words, lambda x: x == F.lit(term))).cast("long")


RETRIEVAL_EVAL_K = 10  # retrieval depth for the eval card
#: Two-tier impact-ordered index (the r12-verdict df-cap, shaped so the
#: fixture stays meaningful): every term's postings are ranked by
#: impact (tf desc, doc_id) once; the GENERATION tier nominates
#: candidates from each term's top-RETRIEVAL_GEN_DF_CAP postings, and
#: the SCORING tier streams each term's top-RETRIEVAL_SCORE_DF_CAP
#: postings through the term join — a stop-word's corpus-sized posting
#: list is cut to the scoring tier BEFORE the join, so the (cand, q)
#: expansion is bounded by cap * |query terms| regardless of corpus
#: size.  Both cuts are mirrored in the oracle.
#:
#: Probed r13: the generation tier is dormant at sf<=0.01 (max word df
#: 402) and LIVE at sf0.1 (df ~3.9k; recall@10 stays full for 455/477
#: queries — exact scores + capped generation); the scoring tier is a
#: dormant scale guard at every fixture SF (the 3-SF sweep covers the
#: generation branch both ways).  A FLAT df-cap (drop capped terms
#: entirely, the dedup kernel's MAX_SHINGLE_DOC_FREQ move) was probed
#: and rejected: this fixture's 31-word vocabulary has 30 words above
#: any useful cap, so dropping them zeroes recall (probed 1.0 -> 0.0);
#: scoring ONLY truncated postings (no exact tier) was probed too and
#: drops full-recall queries to 277/477 — the two-tier shape keeps the
#: bound without redefining the fixture's retriever.
RETRIEVAL_GEN_DF_CAP = 2048
RETRIEVAL_SCORE_DF_CAP = 65536
#: per-q fan-in of the lossless two-phase top-k (the topk_weighted_users
#: plan): each salted slice keeps its local top-K under the same total
#: order, so the survivor rank sees <= K * SALTS rows per query — never
#: a corpus-sized single task.
RETRIEVAL_RANK_SALTS = 8
#: broadcast guard on the ACTUAL query-side postings row count (r12
#: ADVICE: the old pair-count probe bounded pairs, not the broadcast
#: payload of pairs x postings rows, and paid an extra near-dup pass).
RETRIEVAL_QSIDE_ROW_CAP = 2_000_000


def _retrieval_eval_card_plan(spark: SparkSession, sf_dir: str):
    """(lazy card plan, cached index frame) — the computation behind
    :func:`retrieval_eval_card`, split out so the plan pins in
    ``tests/test_r12_ops.py`` can inspect the live query plan; the
    registry op materializes it to scratch parquet and unpersists."""
    from ..functions.hints import runtime_broadcast
    from .dedup import minhash_near_dup

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_dup(spark, sf_dir).select("doc_a", "doc_b")
    rel = pairs.select(
        F.col("doc_a").alias("q"), F.col("doc_b").alias("r")
    ).union(pairs.select(F.col("doc_b").alias("q"), F.col("doc_a").alias("r")))
    post = (
        docs.select("doc_id", F.explode(F.split("text", " ", -1)).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    # index build: rank every term's postings by impact once (the one
    # term-keyed exchange — what building an impact-ordered index IS),
    # cut to the scoring tier, then co-locate each doc's indexed
    # postings on one task and cache — four consumers (norms, query
    # side, scoring join; norms and the scoring aggregate then reuse
    # the doc_id partitioning exchange-free).  The registry wrapper
    # unpersists once the card is materialized (r12 ADVICE: the cache
    # must not outlive the op).
    w_term = Window.partitionBy("word").orderBy(F.desc("tf"), F.asc("doc_id"))
    idx = (
        post.withColumn("prn", F.row_number().over(w_term))
        .filter(F.col("prn") <= RETRIEVAL_SCORE_DF_CAP)
        .repartition("doc_id")
        .cache()
    )
    norm = idx.groupBy("doc_id").agg(
        F.sum(F.col("tf") * F.col("tf")).cast("long").alias("n2")
    )
    qs = rel.select(F.col("q").alias("doc_id")).distinct()
    q_side = idx.join(F.broadcast(qs), "doc_id").select(
        F.col("doc_id").alias("q"), "word", F.col("tf").alias("qtf")
    )
    # broadcast guard on the ACTUAL payload: one count of the query-side
    # postings rows (also materializes the index cache exactly once).
    # Under the cap the query side is provably request-sized and
    # broadcasts explicitly (AQE cannot help here — an SMJ on the term
    # key would first re-shuffle the candidate side by term, destroying
    # the doc co-location the partial agg needs); above it the scoring
    # degrades to the AQE-gated shuffle join, never an OOM.
    if q_side.count() <= RETRIEVAL_QSIDE_ROW_CAP:
        q_side = F.broadcast(q_side)
    else:
        q_side = runtime_broadcast(q_side)
    # ONE scoring pass, exchange-free aggregate: the corpus index
    # streams once through the broadcast term join; the (cand, q)
    # partial aggregate completes inside each task (hash partitioning
    # on doc_id, a subset of the group keys, satisfies the clustered
    # distribution), producing the EXACT num over every shared indexed
    # term plus the generation flag — a pair survives iff some shared
    # term nominates the candidate within the generation tier.
    scored = (
        idx.select(F.col("doc_id").alias("cand"), "word", "tf", "prn")
        .join(q_side, "word")
        .filter(F.col("q") != F.col("cand"))
        .groupBy("cand", "q")
        .agg(
            F.sum(F.col("qtf") * F.col("tf")).cast("long").alias("num"),
            F.max((F.col("prn") <= RETRIEVAL_GEN_DF_CAP).cast("int")).alias(
                "nominated"
            ),
        )
        .filter(F.col("nominated") == 1)
    )
    ranked = (
        scored.join(
            norm.select(F.col("doc_id").alias("q"), F.col("n2").alias("qn2")), "q"
        )
        .join(
            norm.select(F.col("doc_id").alias("cand"), F.col("n2").alias("cn2")),
            "cand",
        )
        .select(
            "q",
            "cand",
            F.expr(
                "(num * num * CAST(10000000000 AS BIGINT)) div (qn2 * cn2)"
            ).alias("quot"),
        )
    )
    # lossless two-phase per-q top-k (verdict #4: never a corpus-sized
    # single-task sort): each (q, salt) slice keeps its local top-K
    # under the SAME strict total order (quot desc, cand asc — cand is
    # unique per q, so the order is total and the cut loses nothing: a
    # global top-K row is top-K within its own slice); the survivor
    # rank then sees <= K * RETRIEVAL_RANK_SALTS rows per q.
    salted = ranked.withColumn(
        "salt", F.pmod(F.col("cand"), F.lit(RETRIEVAL_RANK_SALTS))
    )
    w_slice = Window.partitionBy("q", "salt").orderBy(
        F.desc("quot"), F.asc("cand")
    )
    surv = salted.withColumn("srn", F.row_number().over(w_slice)).filter(
        F.col("srn") <= RETRIEVAL_EVAL_K
    )
    w_q = Window.partitionBy("q").orderBy(F.desc("quot"), F.asc("cand"))
    topk = (
        surv.withColumn("rk", F.row_number().over(w_q).cast("long"))
        .filter(F.col("rk") <= RETRIEVAL_EVAL_K)
        .select("q", "cand", "rk")
    )
    hit = topk.join(rel, (topk["q"] == rel["q"]) & (topk["cand"] == rel["r"])).select(
        topk["q"].alias("hq"), "rk"
    )
    hits = hit.groupBy("hq").agg(
        F.count("*").cast("long").alias("hits_at_10"),
        F.sum((F.col("rk") <= 1).cast("long")).cast("long").alias("hits_at_1"),
        F.sum((F.col("rk") <= 3).cast("long")).cast("long").alias("hits_at_3"),
        F.min("rk").cast("long").alias("first_rank"),
    )
    relcnt = rel.groupBy("q").agg(F.count("*").cast("long").alias("n_relevant"))
    card = (
        relcnt.join(hits, relcnt["q"] == hits["hq"], "left")
        .select(
            F.col("q").alias("doc_id"),
            "n_relevant",
            F.coalesce("hits_at_1", F.lit(0)).cast("long").alias("hits_at_1"),
            F.coalesce("hits_at_3", F.lit(0)).cast("long").alias("hits_at_3"),
            F.coalesce("hits_at_10", F.lit(0)).cast("long").alias("hits_at_10"),
            "first_rank",
            F.expr("1000000 div first_rank").cast("long").alias("rr_micros"),
            F.expr(
                "(1000000 * coalesce(hits_at_10, CAST(0 AS BIGINT)))"
                " div n_relevant"
            )
            .cast("long")
            .alias("recall_at_10_micros"),
        )
    )
    return card, idx


def retrieval_eval_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval EVALUATION card (NEW r12, de-risked r13) — recall@k /
    first-hit rank of a lexical retriever against the engine's own
    verified near-dup ground truth: for every doc with at least one
    LSH-verified near-dup partner, retrieve the top-10 corpus docs by
    tf-cosine over a two-tier impact-ordered index and score how many
    true partners were found.  This is the eval loop an IR/dedup stack
    runs before trusting a retriever as a dedup candidate source — the
    cross-system sibling of ``ann_recall_at_k`` (which evaluates ANN
    against exact-cosine truth).

    Integer-exact ranking (class-4 by construction): tf-cosine order is
    decided by the EXACT integer quotient
    ``(num^2 * 1e10) div (||q||^2 * ||c||^2)`` over int64 term-frequency
    sums — no float sum-order dependence, identical ranking in any
    engine (quotient collisions share a bucket under the doc_id
    tiebreak, the same deterministic convention both sides).  Fixture
    bounds probed r12: num <= 447, num^2 * 1e10 ~ 2e15 << 2^63; an
    open-vocabulary corpus would scale the quotient down or ride
    DECIMAL(38).

    Scale shape (r13, verdict #4): (1) the term join's candidate side is
    a TWO-TIER impact-ordered index — candidates are nominated from each
    term's generation tier (top-``RETRIEVAL_GEN_DF_CAP`` postings by
    impact) and scored over the scoring tier
    (top-``RETRIEVAL_SCORE_DF_CAP``), so a stop-word's corpus-sized
    posting list is cut BEFORE the join and the (cand, q) expansion is
    bounded per term; both the nomination flag and the exact num ride
    ONE exchange-free co-located aggregate (see the constants' probe
    notes for the rejected flat-cap and truncated-only designs); (2) the
    per-q top-10 is a lossless two-phase rank (salted slice top-K, then
    survivor rank over <= K * salts rows) — no corpus-sized single-task
    sort anywhere; (3) the query side broadcasts under a row-count guard
    on the ACTUAL broadcast payload, degrading to the AQE-gated shuffle
    join above it; (4) the index cache is unpersisted once the card is
    materialized to scratch parquet (the ``_capped_shingles``
    discipline), so no cached blocks leak into subsequent registry
    queries.

    Fixture liveness (probed r12/r13): recall@10 = 1.0 at sf<=0.01;
    455/477 queries keep full recall at sf0.1 under the live generation
    tier — multi-partner queries and tier-trimmed partners keep the
    miss branches structurally live at 3 SFs."""
    from ._memo import scratch_persist

    card, idx = _retrieval_eval_card_plan(spark, sf_dir)
    try:
        path = scratch_persist(card, "retrieval_eval_card")
    finally:
        idx.unpersist()
    return spark.read.parquet(path)


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 document ranking for a fixed query (Robertson/Sparck Jones;
    k1=1.5, b=0.75) — the lexical-retrieval scorer next to
    ``tfidf_top_terms``'s keyword extractor.  Uses the repo's RATIONAL idf
    convention, (N - df + 0.5) / (df + 0.5) without the ln(): every
    arithmetic op is then a correctly-rounded IEEE +,*,/ in a fixed
    association order, so Spark and DuckDB agree bit-for-bit (libm log
    may differ in the last ulp — same determinism argument as tfidf).
    Ranking is unchanged: ln is monotone.

    Shape: per-term tf and doc length are MAP-SIDE higher-order filters
    over the token array (no explode, no join — the query has |Q| terms,
    each a size(filter(...)) column); corpus stats (N, sum dl, per-term
    df) are ONE tiny aggregate broadcast back; the final top-k is
    orderBy+limit, which Spark executes as a distributed TakeOrdered —
    no global single-partition sort at any corpus size."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    staged = docs.select(
        "doc_id",
        F.size(words).cast("long").alias("dl"),
        # NB: a 2-arg HOF lambda means (element, index) to Spark, so the
        # term must close via a factory, not a default arg.
        *[_term_tf(words, t).alias(f"tf_{t}") for t in BM25_QUERY],
    )
    stats = staged.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf_{t}") > 0).cast("long")).alias(f"df_{t}")
            for t in BM25_QUERY
        ],
    )
    j = staged.join(F.broadcast(stats))
    n_d = F.col("n_docs").cast("double")
    avgdl = F.col("sum_dl").cast("double") / n_d
    dl_d = F.col("dl").cast("double")

    def term_score(t: str):
        tf = F.col(f"tf_{t}").cast("double")
        df = F.col(f"df_{t}").cast("double")
        idf = (n_d - df + F.lit(0.5)) / (df + F.lit(0.5))
        denom = tf + F.lit(1.5) * (F.lit(0.25) + F.lit(0.75) * (dl_d / avgdl))
        return idf * (tf * F.lit(2.5)) / denom

    score = term_score(BM25_QUERY[0])
    for t in BM25_QUERY[1:]:
        score = score + term_score(t)
    scored = j.select(
        "doc_id",
        "dl",
        *[F.col(f"tf_{t}") for t in BM25_QUERY],
        F.round(score, 6).alias("bm25"),
    ).filter(F.col("bm25") > 0)
    top = scored.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(BM25_TOP_K)
    w = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


def dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The second half of DSIR (Xie et al. 2023): importance RESAMPLING —
    keep each document with probability proportional to its importance
    weight, via the deterministic hash-threshold convention (no RNG
    state; the same subset on every engine/run).  Acceptance = clamp the
    integer-micros weight to [0, 2e6], halve (prob <= 1) by exact integer
    division; keep iff the doc's seeded hash bucket falls under it.
    Every step is exact integer arithmetic, so the kept set is
    bit-identical cross-engine in any engine build (the class-4 oracle-
    portability rule — no engine-evaluated double anywhere).

    Shape: the score frame is doc-keyed, so the join co-keys on doc_id
    and the threshold filter is map-side — resampling adds no shuffle
    beyond the scoring pass itself."""
    from ..functions.hashing import word_hash_expr

    scores = dsir_importance(spark, sf_dir).select(
        "doc_id", "avg_importance_micros"
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    thr = F.expr("least(avg_importance_micros, 2000000) div 2").cast("long")
    bucket = F.pmod(
        word_hash_expr(F.col("doc_id").cast("string"), F.lit("dsir")),
        F.lit(1_000_000),
    )
    return (
        docs.join(scores, "doc_id")
        .filter(bucket < thr)
        .select("doc_id", "lang", "avg_importance_micros")
    )


def split_sentences_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (SURVEY.md §2.8): 1->N sentence expansion as a
    LATERAL table function — ``@udtf(useArrow=True)`` so rows move through
    Arrow batches, correlated against each document row in SQL.

    This query exists to cover the UDTF API shape (the third leg of the
    UDF/UDAF/UDTF surface next to pandas_udf and applyInPandas); for
    splitting itself the map-only HOF form (``chunk_documents``:
    split + posexplode, zero Python) is the hot-path choice — a UDTF earns
    its cost only when the expansion logic genuinely needs Python.

    Split semantics are deliberately literal ('. ' separator, empties
    dropped, no trimming) so the DuckDB oracle can mirror them exactly with
    string_split — the indices re-count only emitted sentences."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="sentence_ix: bigint, sentence: string, n_chars: bigint",
          useArrow=True)
    class SplitSentences:
        def eval(self, text):  # noqa: ANN001 - signature fixed by Spark
            ix = 0
            for part in (text or "").split(". "):
                if part:
                    yield ix, part, len(part)
                    ix += 1

    spark.udtf.register("split_sentences", SplitSentences)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents_for_udtf"
    )
    return spark.sql(
        """
        SELECT d.doc_id, s.sentence_ix, s.sentence, s.n_chars
        FROM documents_for_udtf d, LATERAL split_sentences(d.text) s
        """
    )


BPE_TRAIN_STEPS = 3
_BPE_SEP = "\x1f"  # unit separator: never appears in fixture text


def _bpe_fit(spark: SparkSession, sf_dir: str) -> list:
    """BPE_TRAIN_STEPS merge steps over the word corpus; returns the
    learned merge table [(step, left, right, merged, cnt)].  See
    bpe_train_merges for the distributed shape and the cross-engine
    replace semantics.  Trained once per documents ``memo_key``, shared by
    bpe_train_merges and bpe_tokenize_stats (K rows of driver state)."""
    return build_once(
        spark, sf_dir, ("documents",), "bpe_merges", lambda: _bpe_train(spark, sf_dir)
    )


def _bpe_train(spark: SparkSession, sf_dir: str) -> list:
    sep = _BPE_SEP
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("word")
    ).filter(F.length("word") >= 2)
    seq0 = F.concat(F.lit(sep), F.regexp_replace(F.col("word"), "(.)", "$1" + sep))
    cur = words.select(seq0.alias("seq")).persist()
    try:
        merges: list = []
        for step in range(1, BPE_TRAIN_STEPS + 1):
            sym = F.filter(F.split(F.col("seq"), sep), lambda x: x != F.lit(""))
            pair_arr = F.transform(
                F.sequence(F.lit(1), F.greatest(F.size(sym) - 1, F.lit(1))),
                lambda i: F.concat(
                    F.element_at(sym, i), F.lit(sep), F.element_at(sym, i + 1)
                ),
            )
            pairs = (
                cur.filter(F.size(sym) >= 2)
                .select(F.explode(pair_arr).alias("pair"))
                .filter(F.col("pair").isNotNull())
            )
            top = (
                pairs.groupBy("pair")
                .agg(F.count("*").alias("cnt"))
                .orderBy(F.desc("cnt"), F.asc("pair"))
                .limit(1)
                .collect()
            )
            if not top:
                break
            pair, cnt = top[0]["pair"], top[0]["cnt"]
            left, right = pair.split(sep)
            merges.append((step, left, right, left + right, cnt))
            nxt = cur.select(
                F.replace(
                    F.col("seq"),
                    F.lit(sep + pair + sep),
                    F.lit(sep + left + right + sep),
                ).alias("seq")
            ).persist()
            cur.unpersist(blocking=False)
            cur = nxt
    finally:
        cur.unpersist(blocking=False)
    return merges


def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterated BPE tokenizer training (Sennrich et al. 2016): K merge
    steps, each = corpus-wide adjacent-pair count -> argmax pair -> apply
    the merge to every word — the full training LOOP whose single step
    ``bpe_merge_topk`` ranks.  Output is the learned merge table
    (step, left, right, merged, cnt).

    Distributed shape per step: one map-side HOF pair explode + one tiny
    count aggregate (pair vocabulary is symbol-alphabet^2-bounded); the
    argmax pair — ONE row — is the only driver state, exactly the
    broadcast-scalar discipline of ``kmeans_train``'s centroids.  Words
    ride as separator-joined symbol strings, so applying a merge is a
    literal string replace (non-overlapping left-to-right in every engine
    — Java, Python, DuckDB agree), not a re-tokenization.

    Documented divergence from textbook BPE: replace-based merge
    application resolves overlapping occurrences ("a a a a") left-to-right
    greedily in one pass, the standard fast approximation; pair counts for
    the NEXT step are recomputed from the merged sequences, so the loop
    stays exact w.r.t. its own representation."""
    return spark.createDataFrame(
        _bpe_fit(spark, sf_dir),
        "merge_step long, left string, right string, merged string, cnt long",
    )


def bpe_tokenize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION: encode every document with the learned merge
    table (shared fit via the session memo — training runs once) and
    report per-doc token counts before/after plus the compression ratio.
    This is the deploy-side half of BPE: the merge table rides into the
    plan as K literal replaces (broadcast-scalar, no join), the whole
    encode is map-only per document, one tiny per-doc aggregate ends it.

    The ratio is floor-truncated at 6 places from one exact-integer IEEE
    division — the tie-free rounding class (see ewma_daily_revenue)."""
    merges = _bpe_fit(spark, sf_dir)
    sep = _BPE_SEP
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
    ).filter(F.col("word") != "")
    seq = F.concat(F.lit(sep), F.regexp_replace(F.col("word"), "(.)", "$1" + sep))
    for _step, left, right, merged, _cnt in merges:
        seq = F.replace(
            seq, F.lit(sep + left + sep + right + sep), F.lit(sep + merged + sep)
        )
    n_bpe = F.size(F.filter(F.split(seq, sep), lambda x: x != F.lit("")))
    per_doc = words.groupBy("doc_id").agg(
        F.sum(F.length("word")).cast("long").alias("n_char_tokens"),
        F.sum(n_bpe).cast("long").alias("n_bpe_tokens"),
    )
    ratio = (
        F.floor(
            F.col("n_bpe_tokens").cast("double")
            / F.col("n_char_tokens").cast("double")
            * F.lit(1000000.0)
        ).cast("double")
        / F.lit(1000000.0)
    )
    return per_doc.select(
        "doc_id", "n_char_tokens", "n_bpe_tokens", ratio.alias("compression")
    )


NGRAM_UDTF_N = 3
NGRAM_UDTF_MIN_COUNT = 5


def ngram_phrases_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POLYMORPHIC Python UDTF (Spark 4 ``analyze()``, the schema-from-
    arguments leg of the UDTF surface that ``split_sentences_udtf``'s
    fixed returnType doesn't cover): the table function's OUTPUT COLUMNS
    (gram_1..gram_n) are derived at plan time from the constant ``n``
    argument — the catalog-function shape Spark's built-in generators
    (posexplode, inline) get natively, now reachable from Python.

    The UDTF emits each word n-gram occurrence (Arrow-batched); the
    frequent-phrase report (count >= NGRAM_UDTF_MIN_COUNT) folds in
    DataFrame land so Python only expands, never aggregates.  Mining
    frequent n-grams is the boilerplate/contamination primitive the text
    battery's fixed-n functions hardcode — here n is a query argument."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    @udtf(useArrow=True)
    class NGrams:
        @staticmethod
        def analyze(text: AnalyzeArgument, n: AnalyzeArgument) -> AnalyzeResult:
            if not isinstance(n.value, int):
                raise ValueError("ngram_phrases: n must be a constant int")
            return AnalyzeResult(
                schema=StructType(
                    [
                        StructField(f"gram_{i + 1}", StringType())
                        for i in range(n.value)
                    ]
                )
            )

        def eval(self, text, n):  # noqa: ANN001 - signature fixed by Spark
            words = (text or "").split(" ")
            for i in range(len(words) - n + 1):
                yield tuple(words[i : i + n])

    spark.udtf.register("ngram_phrases", NGrams)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents_for_ngram_udtf"
    )
    gram_cols = ", ".join(f"g.gram_{i + 1}" for i in range(NGRAM_UDTF_N))
    return spark.sql(
        f"""
        SELECT {gram_cols}, CAST(count(*) AS BIGINT) AS cnt
        FROM documents_for_ngram_udtf d,
             LATERAL ngram_phrases(d.text, {NGRAM_UDTF_N}) g
        GROUP BY {gram_cols}
        HAVING count(*) >= {NGRAM_UDTF_MIN_COUNT}
        """
    )


# PR-sweep thresholds: chosen to BISECT the fixture's observed score range
# (~0.42..0.73) so the confusion cells actually vary — the ends are the
# degenerate all-positive / all-negative predictions (kept deliberately:
# they pin the sweep's boundary behavior).
QPR_THRESHOLDS = [round(0.40 + 0.02 * i, 2) for i in range(18)]


def quality_pr_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-eval threshold sweep — the precision/recall curve of the
    heuristic quality score against the Gopher rule label, the acceptance
    artifact every learned quality filter ships with (FineWeb/DCLM-style
    filter tuning).

    Shape: ONE map-side-combined aggregate carries all 18 x 4 conditional
    counters (the ``-If`` combinator shape — one scan, no threshold x
    corpus blow-up), then ``stack`` unpivots the single row to one row
    per threshold and the ratios are single IEEE divisions of exact
    counts.  At 100 TB: one scan, one 72-counter partial agg, 18 output
    rows."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        _quality_score_expr().alias("score"), _gopher_passes_expr().alias("label")
    )
    aggs = []
    for i, t in enumerate(QPR_THRESHOLDS):
        pred = F.col("score") >= F.lit(t)
        lbl = F.col("label")
        for cell, cond in (
            ("tp", pred & lbl),
            ("fp", pred & ~lbl),
            ("fn", ~pred & lbl),
            ("tn", ~pred & ~lbl),
        ):
            aggs.append(
                F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(f"{cell}_{i}")
            )
    one = scored.agg(*aggs)
    parts = ", ".join(
        f"{t!r}D, tp_{i}, fp_{i}, fn_{i}, tn_{i}"
        for i, t in enumerate(QPR_THRESHOLDS)
    )
    wide = one.selectExpr(
        f"stack({len(QPR_THRESHOLDS)}, {parts}) as (threshold, tp, fp, fn, tn)"
    )
    return wide.select(
        "threshold",
        "tp",
        "fp",
        "fn",
        "tn",
        (F.col("tp").cast("double") / F.nullif(F.col("tp") + F.col("fp"), F.lit(0)))
        .alias("precision"),
        (F.col("tp").cast("double") / F.nullif(F.col("tp") + F.col("fn"), F.lit(0)))
        .alias("recall"),
    )


def tokenizer_fertility_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fertility data card — bytes/token and chars/token per
    (lang, source): the number a tokenizer team watches per corpus slice
    (high fertility = the tokenizer fragments that slice, so its docs
    cost more sequence length per character of signal).

    Whitespace tokens are the repo's base tokenization; byte counts are
    UTF-8 octet lengths.  ONE map-side-combined aggregate over exact
    integer sums; the two fertility ratios are single mirrored IEEE
    divisions."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.size(F.split(F.col("text"), " ")).cast("long")
    g = docs.groupBy("lang", "source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(toks).cast("long").alias("n_tokens"),
        F.sum(F.octet_length(F.encode(F.col("text"), "UTF-8")).cast("long"))
        .cast("long")
        .alias("n_bytes"),
        F.sum(F.length("text").cast("long")).cast("long").alias("n_chars"),
    )
    return g.select(
        "lang",
        "source",
        "n_docs",
        "n_tokens",
        "n_bytes",
        F.round(
            F.col("n_bytes").cast("double") / F.col("n_tokens").cast("double"), 6
        ).alias("bytes_per_token"),
        F.round(
            F.col("n_chars").cast("double") / F.col("n_tokens").cast("double"), 6
        ).alias("chars_per_token"),
    )


VOCAB_CHECKPOINTS = (1, 2, 3, 5, 10, 50, 1000)


def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve (the Heaps'-law table): cumulative
    distinct word count at doc-count checkpoints, in doc_id order — the
    corpus-stats curve that tells a tokenizer team whether vocabulary is
    saturating or the corpus keeps minting new types (and therefore how
    big a BPE vocab budget should be).  Raw exact counts; the Heaps
    exponent fit is downstream (log-log regression is not engine-
    portable, the counts are).

    Shape: one (word -> first doc_id) min-aggregate (vocabulary-keyed,
    map-side combined), then ONE conditional aggregate counting words
    whose first appearance precedes each checkpoint — no per-checkpoint
    scans, no distinct-per-prefix explosion.  Checkpoints beyond the
    corpus report the full vocabulary.  The synthetic corpus uses a
    31-word vocabulary that saturates within ~5 docs (probed), so the
    checkpoints start at 1 doc — growth AND saturation both visible."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
    )
    first = tok.groupBy("word").agg(F.min("doc_id").alias("first_doc"))
    # doc_id rank at each checkpoint: doc_ids are dense enough that the
    # exact rank boundary comes from the documents table itself
    w = Window.orderBy("doc_id")
    ranked = docs.select("doc_id").withColumn("rn", F.row_number().over(w))
    bounds = ranked.groupBy().agg(
        F.count("*").cast("long").alias("n_docs_total"),
        *[
            F.max(F.when(F.col("rn") <= c, F.col("doc_id"))).alias(f"b_{c}")
            for c in VOCAB_CHECKPOINTS
        ],
    )
    aggs = [F.count("*").cast("long").alias("vocab_total")]
    rows = []
    for c in VOCAB_CHECKPOINTS:
        aggs.append(
            F.sum(
                F.when(F.col("first_doc") <= F.col(f"b_{c}"), 1).otherwise(0)
            ).cast("long").alias(f"v_{c}")
        )
    g = first.crossJoin(F.broadcast(bounds)).agg(
        *aggs, F.max("n_docs_total").alias("n_docs_total")
    )
    for c in VOCAB_CHECKPOINTS:
        rows.append(
            F.struct(
                F.lit(c).cast("long").alias("checkpoint_docs"),
                F.col(f"v_{c}").alias("vocab_size"),
            )
        )
    return g.select(
        F.explode(F.array(*rows)).alias("s"),
        F.col("vocab_total"),
        F.col("n_docs_total").cast("long").alias("n_docs_total"),
    ).select(
        F.col("s.checkpoint_docs").alias("checkpoint_docs"),
        F.col("s.vocab_size").alias("vocab_size"),
        "vocab_total",
        "n_docs_total",
    )


def url_functions_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL function-family parity (ClickHouse's ``protocol`` / ``domain``
    / ``topLevelDomain`` / ``path`` / ``queryString`` / ``fragment`` /
    ``extractURLParameter`` — the web-analytics workhorse functions every
    clickstream schema leans on): construct a deterministic, well-formed
    URL per document (the fixture carries no URL column) and decompose it
    with Spark's JVM-side ``parse_url`` — PROTOCOL/HOST/PATH/QUERY/REF
    plus keyed QUERY extraction — alongside a string-derived TLD.

    Exactness: the URLs are constructed from exact columns, so every
    parsed part is a pure string fact; the DuckDB oracle re-derives the
    same parts with split/regexp over the identically-constructed URL
    (well-formed by construction — no parser edge semantics in play).

    Scale shape: map-only (construct + parse per row, whole-stage
    codegen, zero shuffles, zero Python) — the parse happens where the
    row lives, exactly how a 100 TB clickstream normalizes URLs."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang"
    )
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("lang"),
        F.lit("/"),
        F.col("doc_id").cast("string"),
        F.lit("?lang="),
        F.col("lang"),
        F.lit("&p="),
        (F.col("doc_id") % 7).cast("string"),
        F.lit("#s"),
        (F.col("doc_id") % 3).cast("string"),
    )
    with_url = docs.select("doc_id", url.alias("url"))
    host = F.parse_url(F.col("url"), F.lit("HOST"))
    return with_url.select(
        "doc_id",
        "url",
        F.parse_url(F.col("url"), F.lit("PROTOCOL")).alias("protocol"),
        host.alias("host"),
        F.substring_index(host, ".", -1).alias("tld"),
        F.parse_url(F.col("url"), F.lit("PATH")).alias("url_path"),
        F.parse_url(F.col("url"), F.lit("QUERY")).alias("query_string"),
        F.parse_url(F.col("url"), F.lit("QUERY"), F.lit("lang")).alias("lang_param"),
        F.parse_url(F.col("url"), F.lit("QUERY"), F.lit("p")).alias("p_param"),
        F.parse_url(F.col("url"), F.lit("REF")).alias("fragment"),
    )


def token_diversity_simpson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source lexical-diversity card via the Gini–Simpson index — the
    log-free diversity metric (Shannon entropy needs ``log``, which is
    not ulp-portable cross-engine; Simpson's 1 - sum(p_i^2) needs only
    exact integer power sums): repetitive/boilerplate sources score low
    diversity and a curation run down-weights them.

    Everything is exact integers until ONE mirrored floor chain:
    N = tokens, V = distinct tokens, S2 = sum of squared token counts
    (int64 — counts are corpus-bounded), HHI = S2/N^2 in micros,
    simpson_micros = 1e6 - HHI.  Shape: one (source, token) count
    (map-side combined, vocabulary-bounded), one per-source rollup."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("word")
    )
    vf = tok.groupBy("source", "word").agg(F.count("*").alias("c"))
    agg = vf.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_distinct_tokens"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("_s2"),
    )
    hhi = (
        F.col("_s2").cast("double")
        / (F.col("n_tokens").cast("double") * F.col("n_tokens").cast("double"))
        * F.lit(1000000.0)
    )
    return agg.select(
        "source",
        "n_tokens",
        "n_distinct_tokens",
        F.floor(hhi + F.lit(0.5)).cast("long").alias("hhi_micros"),
        (F.lit(1000000) - F.floor(hhi + F.lit(0.5)).cast("long")).alias(
            "simpson_micros"
        ),
    )


def string_functions_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse string-function parity sweep over documents:
    ``countSubstrings`` (replace-length arithmetic — exact integers, no
    regex engine in the loop), ``multiSearchAny`` (two-needle contains),
    ``position`` (1-based, 0 when absent — both branches live: 'dup'
    appears in ~5% of docs), ``splitByChar`` token count, and
    ``formatReadableQuantity`` of the text BIT count (8 * n_chars — the
    fixture's docs never reach 1000 CHARS, so chars would leave the
    'thousand' branch dead; bits straddle 1000 at every SF) in exact
    integer centiparts (round-half-up (200q+1000)//2000 — no doubles,
    so the rendered string hashes under any engine build).

    Map-only: every leg is JVM-side string arithmetic on the row where
    it lives — no exchange anywhere in the plan (pytest pins it), the
    same whole-stage-codegen shape as ``url_functions_battery``."""
    d = load_table(spark, sf_dir, "documents")
    n_table = (
        (F.length("text") - F.length(F.expr("replace(text, 'table', '')")))
        / F.lit(5)
    ).cast("long")
    bits = F.col("n_chars") * 8
    centi = F.floor(
        (bits * 200 + 1000).cast("double") / F.lit(2000.0)
    ).cast("long")
    readable = F.when(
        bits < 1000, F.concat(bits.cast("string"))
    ).otherwise(
        F.concat(
            (centi / 100).cast("long").cast("string"),
            F.lit("."),
            F.lpad((centi % 100).cast("string"), 2, "0"),
            F.lit(" thousand"),
        )
    )
    return d.select(
        "doc_id",
        n_table.alias("n_table_substr"),
        (F.col("text").contains("spark") | F.col("text").contains("vector")).alias(
            "multi_hit"
        ),
        F.instr("text", "dup").cast("long").alias("dup_pos"),
        (F.size(F.split("text", " ", -1))).cast("long").alias("n_tokens"),
        readable.alias("readable_bits"),
    )


def unicode_functions_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-cleanliness battery — the reference ships Thai product
    text end-to-end with ``ensure_ascii=False``
    (/root/reference/producers/sales_producer.py:21,38-66,162), so the
    engine must keep CHARACTER and BYTE semantics distinct everywhere.
    The fixture corpus is ASCII-only (character length == octet length
    would make the distinction vacuous), so odd-keyed customers get a
    deterministic Thai suffix appended IN the query: per customer,
    char_length vs octet_length (UTF-8 Thai is 3 bytes/char — the gap
    is the falsifiable branch), upper-case roundtrip stability of the
    ASCII half, and the suffix-carrying flag.

    Map-only JVM string ops, no exchange; the oracle mirrors with
    DuckDB's length (characters) and strlen (bytes)."""
    cust = load_table(spark, sf_dir, "customer")
    thai = "สินค้า"  # "product" — 6 Thai chars, 18 UTF-8 bytes
    name2 = F.when(
        F.col("c_custkey") % 2 == 1, F.concat(F.col("c_name"), F.lit(" "), F.lit(thai))
    ).otherwise(F.col("c_name"))
    return cust.select(
        "c_custkey",
        name2.alias("display_name"),
        F.length(name2).cast("long").alias("n_chars"),
        F.octet_length(name2).cast("long").alias("n_bytes"),
        (F.octet_length(name2) > F.length(name2)).alias("is_multibyte"),
        F.upper(F.col("c_name")).alias("ascii_upper"),
    )


def langid_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID EVALUATION card — the confusion matrix between the
    profile predictor (``language_id``, r12 rewrite) and the fixture's
    labeled ``lang`` column, with per-cell share of the label's
    documents in exact integer micros.  What the card surfaces FLIPPED
    in r12 from a predictor defect to a LABEL defect: the r11 corpus-
    vote scorer collapsed to the majority label by construction (the
    failure this card caught); the r12 profile scorer is correct on
    real multilingual text (5/5 on the constructed-text pytest) and on
    THIS fixture still answers 'en'/'und' everywhere — because probes
    show the fixture's labels are synthetic over uniformly English
    word-soup (per-label word rates, presence rates, and lengths are
    identical across labels; no text signal exists).  A card that reads
    "every label predicted en" over an accurate scorer is diagnosing
    the dataset, which is the other thing a langid eval card is for.
    Both the diagonal and off-diagonal branches stay live at every SF.

    Scale shape: one aggregate over language_id's per-doc output
    (|langs|^2-bounded cells), label totals by a second tiny aggregate
    joined back."""
    per_doc = language_id(spark, sf_dir)
    cells = per_doc.groupBy("lang", "predicted_lang").agg(
        F.count("*").cast("long").alias("n_docs")
    )
    totals = per_doc.groupBy("lang").agg(
        F.count("*").cast("long").alias("label_total")
    )
    j = cells.join(totals, "lang")
    share = F.floor(
        (2000000 * F.col("n_docs") + F.col("label_total")).cast("double")
        / (2 * F.col("label_total")).cast("double")
    ).cast("long")
    return j.select(
        "lang",
        "predicted_lang",
        "n_docs",
        "label_total",
        share.alias("share_micros"),
        (F.col("lang") == F.col("predicted_lang")).alias("is_diagonal"),
    )


ENC_B64_CHARS = 24  # base64 sample width (multiple of 3: no padding drift)
ENC_HEX_CHARS = 8


def encoding_functions_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-encoding scalar family (ClickHouse ``base64Encode`` /
    ``base64Decode`` / ``hex`` / ``unhex`` / ``bin`` / ``ascii`` — the
    byte-codec leg the string battery doesn't cover; reference behavior:
    the payload-encoding helpers a Kafka wire format needs,
    ``consumers/kafka_to_clickhouse.py``'s JSON-bytes decode path):
    per document, base64 of the first 24 text bytes, uppercase hex of
    the first 8, a decode(unbase64(base64(x))) == x round-trip proof,
    the binary rendering of the doc id, and the first code point.

    Exactness: every output is a deterministic string/boolean/integer
    codec of exact bytes — RFC 4648 base64 (the 24-char sample is a
    multiple of 3, so no padding-rendering drift), uppercase hex in both
    engines, ``bin`` without leading zeros in both (probed r13), and the
    fixture text is pure ASCII word-soup so substr-by-chars ==
    substr-by-bytes (the Unicode battery owns the multibyte cases).

    Shape: map-only whole-stage codegen over the documents scan — zero
    exchanges (plan-pinned), the decode round-trip never leaves the JVM."""
    docs = load_table(spark, sf_dir, "documents")
    head24 = F.substring("text", 1, ENC_B64_CHARS)
    b64 = F.base64(F.encode(head24, "UTF-8"))
    return docs.select(
        "doc_id",
        b64.alias("b64_head"),
        F.hex(F.encode(F.substring("text", 1, ENC_HEX_CHARS), "UTF-8")).alias(
            "hex_head"
        ),
        (F.decode(F.unbase64(b64), "UTF-8") == head24).alias("b64_roundtrip_ok"),
        F.bin("doc_id").alias("doc_id_bin"),
        F.ascii("text").cast("long").alias("first_code_point"),
    )


QCAL_BANDS = 10  # reliability-diagram bins over the [0,1] score


def quality_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for the heuristic quality score (NEW r13 —
    the calibration eval next to ``quality_pr_sweep``'s threshold
    sweep): bin the cheap score into 10 bands and report, per band, how
    often the expensive Gopher rule set actually passes — the check a
    pipeline runs before trusting the fast scorer as a proxy for the
    full rule battery.  Probed r13 at sf0.01: 4 bands live with real
    spread (pass rates 0.0 / 0.40 / 0.85 / 0.77 — the band-7 dip is a
    real non-monotonicity the card exists to expose, not noise).

    One scan, zero joins: both the score and the pass flag are shared
    map-only Column programs (``_quality_score_expr`` /
    ``_gopher_passes_expr`` — one formula, one truth with the ops they
    come from), so the card is a single map-side-combined aggregate.

    Exactness: the band is floor(round6_score * 10) clamped to 9 — the
    score is a mirrored IEEE composition, identical doubles in both
    engines, so the floor is identical; per-band means ride exact
    integer micros with the half-up (2S + n) div (2n) convention; sums
    stay in int64 up to ~4.6e12 docs per band (score_micros <= 1e6)."""
    docs = load_table(spark, sf_dir, "documents")
    score = _quality_score_expr()
    band = F.least(
        F.floor(score * F.lit(QCAL_BANDS)).cast("long"), F.lit(QCAL_BANDS - 1)
    )
    per = docs.select(
        band.alias("band"),
        (score.cast("decimal(25,6)") * F.lit(1000000)).cast("long").alias("sm"),
        _gopher_passes_expr().cast("long").alias("p"),
    )
    n = F.count("*")
    return per.groupBy("band").agg(
        n.cast("long").alias("n_docs"),
        F.expr("(2 * sum(sm) + count(*)) div (2 * count(*))")
        .cast("long")
        .alias("mean_score_micros"),
        F.expr("(2000000 * sum(p) + count(*)) div (2 * count(*))")
        .cast("long")
        .alias("gopher_pass_rate_micros"),
    )


def quality_score_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC of the heuristic quality score against the Gopher rule
    verdict (ClickHouse ``arrayAUC`` analog; NEW r13 — the ranking-power
    eval next to ``quality_score_calibration``'s calibration view: AUC
    asks "does a higher score mean more likely to pass", calibration
    asks "is the band's pass rate what the score claims").

    Integer-exact via the midrank trick (the ``mann_whitney_u``
    precedent — AUC IS the Mann-Whitney U normalized by n1*n0): ranks
    are never assigned per row; the round-6 score domain collapses to a
    value-frequency table where 2*midrank = 2*(#smaller) + cnt + 1 is an
    INTEGER, the positives' rank sum is one integer aggregate, and
    AUC_micros = (1e6 * (S2 - n1*(n1+1))) div (2*n1*n0) — tie-corrected
    AUC with zero float arithmetic anywhere.  Gini = 2*AUC - 1 derives
    from the already-floored micros (deterministic).

    Shape: one map-side-combined (score -> cnt, pos) aggregate; the one
    unpartitioned window walks the DISTINCT-score frame (the sweep-line
    discipline — bounded by the score's round-6 domain, never the
    corpus); one-row output.  int64-safe while 1e6 * S2 < 2^63
    (S2 <= n*(2n+1): fine past 1e6 docs; at 100 TB the rank sum rides
    the decimal fold like mann_whitney's tie term)."""
    docs = load_table(spark, sf_dir, "documents")
    per = docs.select(
        _quality_score_expr().alias("score"),
        _gopher_passes_expr().cast("long").alias("y"),
    )
    freq = per.groupBy("score").agg(
        F.count("*").alias("cnt"), F.sum("y").alias("pos")
    )
    wv = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    ranked = freq.withColumn(
        "cum_less", F.coalesce(F.sum("cnt").over(wv), F.lit(0))
    ).withColumn(
        "rank2", (2 * F.col("cum_less") + F.col("cnt") + 1).cast("long")
    )
    agg = ranked.agg(
        F.sum(F.col("pos") * F.col("rank2")).cast("long").alias("s2"),
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum(F.col("cnt") - F.col("pos")).cast("long").alias("n_neg"),
    )
    # nullif guard: a single-class verdict (n_pos or n_neg = 0) must
    # degrade to NULL auc identically in both engines, not crash the
    # oracle's // with a division-by-zero (ADVICE r13).
    return agg.select(
        "n_pos",
        "n_neg",
        F.expr(
            "(1000000 * (s2 - n_pos * (n_pos + 1)))"
            " div nullif(2 * n_pos * n_neg, 0)"
        )
        .cast("long")
        .alias("auc_micros"),
        (
            F.lit(2)
            * F.expr(
                "(1000000 * (s2 - n_pos * (n_pos + 1)))"
                " div nullif(2 * n_pos * n_neg, 0)"
            )
            - F.lit(1_000_000)
        )
        .cast("long")
        .alias("gini_micros"),
    )


def multisearch_functions_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse position / multiSearch family — ``position``,
    ``multiSearchAny``, ``multiSearchFirstIndex``, ``countSubstrings``
    (NEW r14; the string battery covers transforms, this one covers the
    SUBSTRING-SEARCH surface).  Needles probed for live branches at
    every SF: 'dup' hits ~5% of docs, 'data' ~76%, 'zzz' never — so
    found/not-found, any, and every first-index value are all exercised
    (case-insensitive variants are deliberately absent: the fixture text
    is all-lowercase, a CI battery would be vacuous — the
    falsifiability rule).

    multiSearchFirstIndex = the 1-based index of the needle whose
    occurrence is LEFTMOST (0 when none match), via a mirrored CASE over
    sentinel-maxed positions with a lower-index tiebreak;
    countSubstrings via the exact length-difference identity
    (non-overlapping count, ClickHouse semantics).  Map-only — zero
    exchanges (plan-pinned)."""
    docs = load_table(spark, sf_dir, "documents")
    p1 = F.locate("dup", F.col("text")).cast("long")
    p2 = F.locate("data", F.col("text")).cast("long")
    p3 = F.locate("zzz", F.col("text")).cast("long")
    big = F.lit(1_000_000_000)
    q1 = F.when(p1 > 0, p1).otherwise(big)
    q2 = F.when(p2 > 0, p2).otherwise(big)
    q3 = F.when(p3 > 0, p3).otherwise(big)
    first_index = (
        F.when((p1 == 0) & (p2 == 0) & (p3 == 0), F.lit(0))
        .when((q1 <= q2) & (q1 <= q3), F.lit(1))
        .when(q2 <= q3, F.lit(2))
        .otherwise(F.lit(3))
        .cast("long")
    )
    n_data = (
        (F.length("text") - F.length(F.replace(F.col("text"), F.lit("data"), F.lit(""))))
        / F.lit(4)
    ).cast("long")
    return docs.select(
        "doc_id",
        p1.alias("pos_dup"),
        p2.alias("pos_data"),
        p3.alias("pos_zzz"),
        first_index.alias("first_index"),
        n_data.alias("n_data"),
        ((p1 > 0) | (p2 > 0) | (p3 > 0)).alias("any_found"),
    )
