"""Corpus-hygiene ops for pretraining pipelines: within-document
repetition signals (the Gopher-style quality rules), cross-document
segment dedup (C4's "remove any line seen in N documents", generalized
to a configurable separator), and PII redaction.

Reference parity: the reference repo has no training-data layer; these
extend the engine's documents surface (functions/text.py, functions/
dedup.py) with the remaining standard curation stages. Everything stays
JVM-side — built-in column expressions and two-level aggregations, no
Python UDFs — so each op costs one scan plus at most two shuffles
regardless of corpus size:

- repetition signals: pure per-row expressions (zero shuffles) plus an
  optional modal-n-gram share that aggregates (doc, gram) with map-side
  partial agg, then (doc) — both keys are high-cardinality and skew-free
  by construction (doc_id is unique).
- segment dedup: posexplode → hash-canonical segment → doc-frequency
  agg (partial agg collapses per-partition repeats before the shuffle)
  → anti-join of banned segments → per-doc ordered reassembly: two
  corpus scans (one building the pinned banned set, one joining), the
  expensive agg exactly once. The banned relation is the ONLY broadcast
  candidate and is guarded by an estimated-bytes threshold like the
  DV/decontamination broadcasts.
- PII scrub: regexp_replace / regexp_count codegen, zero shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .text import tokens

# Mirrors DV_BROADCAST_MAX_BYTES (core/dv.py): above this estimated
# size the banned-segment relation joins via shuffle (AQE may still
# convert it) instead of a forced broadcast.
BANNED_BROADCAST_MAX_BYTES = 64 * 1024 * 1024


# ---- within-document repetition signals --------------------------------------


def _sep_pattern(sep: str) -> str:
    """``sep`` is a LITERAL separator everywhere in this module (split
    must agree with the concat_ws reassembly, which is literal), but
    F.split takes a Java regex — quote it (Pattern.quote's \\Q..\\E form,
    robust to any metachar including backslash and newline)."""
    return "\\Q" + sep.replace("\\E", "\\E\\\\E\\Q") + "\\E"


def segments(text: Column, sep: str = "\n") -> Column:
    """Non-empty trimmed segments (lines by default) as an array."""
    return F.filter(
        F.transform(F.split(text, _sep_pattern(sep)), lambda s: F.trim(s)),
        lambda s: F.length(s) > 0,
    )


def dup_segment_frac(text: Column, sep: str = "\n") -> Column:
    """Fraction of segments that are repeats of an earlier segment —
    Gopher's duplicate-line/paragraph fraction. 0 for empty docs."""
    segs = segments(text, sep)
    n = F.size(segs)
    return F.when(
        n > 0, (n - F.size(F.array_distinct(segs))).cast("double") / n
    ).otherwise(F.lit(0.0))


def dup_word_frac(text: Column) -> Column:
    """Fraction of word occurrences that are repeats of an earlier word."""
    toks = tokens(text)
    n = F.size(toks)
    return F.when(
        n > 0, (n - F.size(F.array_distinct(toks))).cast("double") / n
    ).otherwise(F.lit(0.0))


def top_ngram_share(
    df: DataFrame,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str | None = None,
) -> DataFrame:
    """Per-doc fraction of n-gram OCCURRENCES taken by the modal n-gram
    (Gopher's top-n-gram rule; a doc dominated by one repeated phrase
    scores near 1). Docs shorter than n tokens score 0.

    Occurrence counts, not the distinct sets dedup.py shingles into —
    so this builds its own grams via the posexplode+lead shape
    (dedup.py:71 measured the lambda form 2.6x slower)."""
    out_col = out_col or f"top{n}gram_share"
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "t"),
    ).filter(F.length("t") > 0)  # split('') yields [''] — an empty doc must
    # score 0 (left-join miss), not count '' as its modal unigram at n=1
    w = Window.partitionBy("_id").orderBy("pos")
    grams = toks.select(
        "_id",
        F.concat_ws(" ", "t", *[F.lead("t", j).over(w) for j in range(1, n)]).alias("g"),
        F.lead("t", n - 1).over(w).isNotNull().alias("_full"),
    ).filter("_full")
    per = grams.groupBy("_id", "g").agg(F.count("*").alias("c"))
    shares = per.groupBy("_id").agg(
        (F.max("c").cast("double") / F.sum("c")).alias(out_col)
    )
    return df.join(
        shares.withColumnRenamed("_id", id_col), id_col, "left"
    ).withColumn(out_col, F.coalesce(F.col(out_col), F.lit(0.0)))


def repetition_signals(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    ngram_sizes: tuple[int, ...] = (2, 3),
) -> DataFrame:
    """Attach the standard repetition-quality columns: dup_word_frac,
    dup_segment_frac, and top{n}gram_share for each requested n. The
    fractions are pure row expressions; each n-gram share adds one
    (doc, gram) + one (doc) aggregation."""
    out = df.withColumn("dup_word_frac", dup_word_frac(F.col(text_col))).withColumn(
        "dup_segment_frac", dup_segment_frac(F.col(text_col), sep)
    )
    for n in ngram_sizes:
        out = top_ngram_share(out, n=n, text_col=text_col, id_col=id_col)
    return out


# ---- cross-document segment dedup (C4 rule) ----------------------------------


def _canon_hash(seg: Column) -> Column:
    """Canonical segment identity: lowercase, collapse whitespace, md5 —
    the same canonicalization family text.fingerprint uses for whole
    docs, so near-identical formatting doesn't defeat the rule."""
    return F.md5(F.trim(F.regexp_replace(F.lower(seg), r"\s+", " ")))


def segment_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    min_docs: int = 2,
    min_words: int = 3,
    banned_broadcast_max_bytes: int = BANNED_BROADCAST_MAX_BYTES,
) -> DataFrame:
    """C4-style cross-corpus segment dedup: a segment (canonicalized)
    that appears in >= ``min_docs`` DISTINCT documents is removed from
    every document; remaining segments reassemble in original order.
    Segments shorter than ``min_words`` words are exempt (boilerplate
    headers/bullets under a few words carry no training signal either
    way, and exempting them keeps the banned set small — C4 applies its
    rule to three-sentence spans for the same reason).

    Returns one row per input doc: (id, text, n_segments, n_removed) —
    docs whose every segment is banned survive with empty text so the
    caller can filter or count them.

    Scale shape: the (hash) doc-frequency agg partial-aggregates
    per-partition repeats before its shuffle; the banned relation (df >=
    min_docs AND len >= min_words) is usually tiny and broadcasts under
    an estimated-bytes guard — above it, the anti-join shuffles on the
    32-char hash, never on segment text. Reassembly is one per-doc
    aggregation of (pos, seg) structs: sort_array on the collected list,
    not a window, so there is no second per-doc ordering pass."""
    seg = df.select(
        F.col(id_col).alias("_id"),
        # NULL text must still yield its output row ('one row per input
        # doc'): coalesce to '' so posexplode has a (single, ineligible)
        # segment to carry instead of emitting nothing
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), _sep_pattern(sep))
        ).alias("pos", "seg"),
    ).withColumn("_h", _canon_hash(F.col("seg")))
    eligible = F.size(F.split(F.trim(F.col("seg")), r"\s+")) >= min_words
    seg = seg.withColumn("_elig", eligible & (F.length(F.trim("seg")) > 0))

    banned = (
        seg.filter("_elig")
        .groupBy("_h")
        .agg(F.countDistinct("_id").alias("_df"))
        .filter(F.col("_df") >= min_docs)
        .select("_h")
    )
    # The size guard needs a count, but counting the lazy plan and then
    # joining it would run the explode + doc-frequency agg TWICE — pin
    # the (small: banned hashes only) relation so the guard job is also
    # the join build. scoped_cache bounds this to one pinned relation
    # per session; the corpus-wide explode still runs once more for the
    # join's left side (two source scans total, agg once).
    from ..core.cachereg import scoped_cache

    banned = scoped_cache(banned, "scrub.segment_dedup.banned")
    # 32-hex md5 + UnsafeRow overhead ~= 56 B/row
    n_banned = banned.count()
    if n_banned * 56 <= banned_broadcast_max_bytes:
        banned = F.broadcast(banned)

    marked = seg.join(
        banned.withColumn("_ban", F.lit(True)), "_h", "left"
    ).withColumn("_drop", F.col("_elig") & F.coalesce(F.col("_ban"), F.lit(False)))
    out = (
        marked.groupBy("_id")
        .agg(
            F.concat_ws(
                sep,
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.when(~F.col("_drop"), F.struct("pos", "seg"))
                        )
                    ),
                    lambda s: s["seg"],
                ),
            ).alias(text_col),
            F.count("*").alias("n_segments"),
            F.sum(F.col("_drop").cast("int")).alias("n_removed"),
        )
        .withColumnRenamed("_id", id_col)
    )
    return out


# ---- PII redaction -----------------------------------------------------------

# Deliberately simple, engine-portable patterns (no lookaround): the
# point is the pipeline stage's Spark shape, not NLP-grade recall.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?\d{3}[-. ]\d{3}[-. ]\d{4}"
IP_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"

PII_PATTERNS = {
    "email": (EMAIL_RE, "<EMAIL>"),
    "phone": (PHONE_RE, "<PHONE>"),
    "ip": (IP_RE, "<IP>"),
}


def curation_transform(
    text_col: str = "text",
    quality_min: float = 50.0,
    scrub_pii: bool = True,
    max_dup_word_frac: float = 0.9,
    max_topgram_share: float | None = None,
    id_col: str = "doc_id",
):
    """Standard per-batch curation pipeline as a DataFrame->DataFrame
    closure — the ``transform`` hook for streaming ingest
    (streaming/ingest.py stream_dedup_ingest) and for batch curation
    alike: quality gate, repetition gate, then PII redaction, all pure
    row expressions in ONE Catalyst plan (the optional modal-n-gram gate
    adds the two-level aggregation and is off by default for streaming:
    a per-batch shuffle is fine, but the cheap gates catch most of what
    it would).

    Order matters: gates run on the ORIGINAL text (a document should
    fail quality for its own prose, not for redaction tokens), then
    redaction rewrites the survivors; the caller fingerprints AFTER, so
    dedup identity is the canonical scrubbed form. Deterministic by
    construction — safe under streaming replay."""
    from .text import quality_score

    def apply(df: DataFrame) -> DataFrame:
        t = F.col(text_col)
        out = df.filter(
            (quality_score(t) >= quality_min)
            & (dup_word_frac(t) <= max_dup_word_frac)
        )
        if max_topgram_share is not None:
            # the n-gram share partitions by id_col — a non-unique key
            # would merge different docs' token streams and stamp one
            # bogus share on all of them, so refuse to guess
            if id_col not in df.columns:
                raise ValueError(
                    f"max_topgram_share needs a unique id column; "
                    f"{id_col!r} not in {df.columns}"
                )
            share = "top2gram_share"
            out = top_ngram_share(out, n=2, text_col=text_col, id_col=id_col)
            out = out.filter(F.col(share) <= max_topgram_share).drop(share)
        if scrub_pii:
            out = pii_scrub(out, text_col=text_col, count_cols=False)
        return out

    return apply


def pii_scrub(
    df: DataFrame,
    text_col: str = "text",
    patterns: dict[str, tuple[str, str]] | None = None,
    count_cols: bool = True,
) -> DataFrame:
    """Redact PII spans in-place and (optionally) count redactions per
    kind. Pure regexp codegen — zero shuffles, composes with any scan.
    Counts are computed BEFORE any replacement so overlapping patterns
    (an email containing digits, say) count against the text the reader
    actually saw."""
    patterns = patterns if patterns is not None else PII_PATTERNS
    out = df
    if count_cols:
        for kind, (pat, _) in patterns.items():
            out = out.withColumn(f"n_{kind}", F.regexp_count(F.col(text_col), F.lit(pat)))
    scrubbed = F.col(text_col)
    for kind, (pat, token) in patterns.items():
        scrubbed = F.regexp_replace(scrubbed, pat, token)
    return out.withColumn(text_col, scrubbed)
