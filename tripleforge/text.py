"""Training-data pipeline text operators over the `documents` table:
deduplication (exact, MinHash+LSH, SimHash, n-gram Jaccard), language
ID, quality scoring, token counting, document fingerprinting.

Everything on the hot path is built-in Catalyst expressions / higher-
order array functions (JVM-side, whole-stage-codegen or vectorized) —
no Python UDFs. The near-dup operators follow the standard web-scale
shapes: shingle → inverted-index join (exact Jaccard), shingle →
minhash signature → banded LSH bucket join (approximate), token-hash
bit aggregation (SimHash). Skewed buckets are capped exactly like
entity-linking blocks (link.block_and_cap).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tripleforge.link import block_and_cap
from tripleforge.ops import widen_if_narrow

# ---------------------------------------------------------------------------
# Tokenization / fingerprint / counting
# ---------------------------------------------------------------------------


def norm_text(col: Column) -> Column:
    """Whitespace-collapsed, lowercased, trimmed text."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def tokens(col: Column) -> Column:
    return F.split(norm_text(col), " ")


def token_count(col: Column) -> Column:
    """Whitespace token count (the 'word count' every corpus pipeline
    needs before a real BPE pass)."""
    return F.size(tokens(col))


def bpe_ish_token_count(col: Column) -> Column:
    """BPE-ish subword proxy: count of word/number/punctuation chunks
    (regex analog of a byte-level pre-tokenizer's split points)."""
    return F.size(
        F.regexp_extract_all(col, F.lit(r"[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]"), 0)
    )


def fingerprint(col: Column) -> Column:
    """Deterministic document fingerprint: md5 of normalized text —
    portable across engines (the DuckDB oracle computes the same md5)."""
    return F.md5(norm_text(col))


# ---------------------------------------------------------------------------
# Exact deduplication (hash-groupBy)
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """→ (fp, representative=min id, n_dups). One hash aggregate with
    map-side partial combine; at 100 TB this is a single shuffle keyed
    by a 128-bit fingerprint (uniform, no skew)."""
    return (
        df.select(fingerprint(F.col(text_col)).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("representative"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


# ---------------------------------------------------------------------------
# Shingling + exact n-gram Jaccard (inverted-index join)
# ---------------------------------------------------------------------------


def shingles(col: Column, k: int = 5) -> Column:
    """Distinct k-token shingles of the normalized text (array<string>).
    Documents shorter than k tokens yield their full text as the one
    shingle.

    r6 (guide §1.2 per-task work): the k-grams are extracted in ONE
    regex pass over the normalized text — ``(?:^| )`` consumes each
    token boundary and a lookahead captures the next k tokens, so the
    overlapping shingles come out of a single codegen'd
    ``regexp_extract_all``. The previous
    ``transform(sequence, i -> array_join(slice(tokens, i, k)))`` built
    every shingle through interpreted higher-order-function evaluation
    (~4× slower per task, measured at sf1.0: 2.4 s → 0.6 s for the full
    posting). Because ``norm_text`` collapses whitespace to single
    spaces, the captured substrings are character-identical to the
    joined slices (asserted over the whole corpus in
    tests/test_opt_r06.py), so every downstream hash — minhash
    signatures, LSH buckets, incremental state — is unchanged."""
    toks = tokens(col)
    n = F.size(toks)
    norm = norm_text(col)
    pat = r"(?:^| )(?=((?:\S+ ){%d}\S+))" % (k - 1)
    return F.array_distinct(
        F.when(
            n >= k,
            F.regexp_extract_all(norm, F.lit(pat), 1),
        ).otherwise(F.array(F.array_join(toks, " ")))
    )


def _shingle_posting(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """(doc, sh) posting list; the shingle is xxhash64-compressed to a
    long so downstream shuffles/joins move 8 bytes, not k-word strings —
    at corpus scale the shuffle width is the cost driver (collisions at
    64 bits are negligible for dedup purposes)."""
    return widen_if_narrow(
        df.select(F.col(id_col).alias("doc"), F.col(text_col)), ["doc"]
    ).select(
        "doc",
        F.explode(shingles(F.col(text_col), k)).alias("sh_raw"),
    ).select("doc", F.xxhash64("sh_raw").alias("sh"))


def _share(df: DataFrame, eager: bool = False) -> DataFrame:
    """Reuse an intermediate across multiple downstream branches
    WITHOUT leaking executor storage (VERDICT r2): a ``localCheckpoint``
    materializes RDD blocks (on first action when lazy, synchronously
    when ``eager``) and — unlike ``DataFrame.persist()``, whose
    CacheManager entry outlives every reference — is released by Spark's
    ContextCleaner as soon as the returned plan is garbage-collected.
    Repeated calls in a long-lived session therefore cannot accumulate
    cached partitions.

    ``eager=True`` is for SMALL intermediates referenced by several
    concurrently-scheduled downstream stages: lazy blocks only land as
    each stage's tasks first compute them, so sibling stages launched
    together each recompute the lineage (measured on minhash, VERDICT
    r3 #1); eager materialization runs the lineage exactly once before
    any consumer plans. (Cluster note: localCheckpoint blocks are lost
    with their executor; the job then fails-and-retries rather than
    silently recomputing — the right trade for a dedup batch job,
    matching CC/link.py.)"""
    return df.localCheckpoint(eager=eager)


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    threshold: float = 0.5,
    max_posting: int = 10_000,
) -> DataFrame:
    """Exact shingle-Jaccard near-dup pairs ≥ threshold.

    Inverted-index self-join: explode shingles, join docs sharing a
    shingle, count intersections, join back per-doc shingle counts.
    Stop-shingles (posting lists > ``max_posting``) are dropped before
    the join — the standard guard against the O(df²) hot-key blowup at
    corpus scale (AQE skew-join remains the backstop).
    """
    # the posting list feeds 4 downstream branches (sizes, cap counts,
    # both join sides) — share so tokenize+shingle runs once, not 4×.
    # r6: eager, like minhash — lazily-checkpointed blocks only land as
    # each consumer stage's tasks compute them, so concurrently
    # scheduled sibling stages re-ran the shingle lineage (A/B at
    # sf1.0: 3.4 s → 2.8 s).
    posting = _share(_shingle_posting(df, id_col, text_col, k), eager=True)
    sizes = posting.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    # r6 (guide §2.4 share one exchange): the stop-shingle count, the
    # cap anti-join and the inverted-index self-join are all keyed by
    # `sh` — one explicit repartition establishes that partitioning
    # once (AQE sizes it), and every downstream sh-keyed operator reuses
    # it instead of exchanging the posting again (A/B at sf1.0:
    # 3.0 s → 2.2 s). `sizes` stays on the doc-partitioned checkpoint.
    by_sh = posting.repartition(F.col("sh"))
    capped = block_and_cap(by_sh, ["sh"], max_posting)
    a = capped.withColumnRenamed("doc", "doc_a")
    b = capped.withColumnRenamed("doc", "doc_b")
    inter = (
        a.join(b, "sh")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("doc", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return out


# ---------------------------------------------------------------------------
# MinHash + banded LSH (approximate near-dup at scale)
# ---------------------------------------------------------------------------


def _signatures_from_posting(posting: DataFrame, n_hashes: int) -> DataFrame:
    aggs = [
        F.min(F.xxhash64(F.col("sh"), F.lit(i))).alias(f"h{i}")
        for i in range(n_hashes)
    ]
    return posting.groupBy("doc").agg(*aggs)


def minhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n_hashes: int = 32
) -> DataFrame:
    """→ (doc, h0..h{n-1}): explode shingles once, then ONE codegen'd
    hash aggregate computes all n_hashes minima (per-hash salt mixed in
    with a second xxhash64 seed column). Map-side partial aggregation
    collapses each doc's shingles before the shuffle."""
    return _signatures_from_posting(
        _shingle_posting(df, id_col, text_col, k=5), n_hashes
    )


def minhash_doc_state(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 32,
    k: int = 5,
    with_sets: bool = True,
) -> DataFrame:
    """Per-doc minhash state ``(doc, h0…h{n-1}[, shs])`` — the reusable
    first stage of :func:`minhash_lsh_pairs` and the DURABLE state for
    incremental cross-wave dedup (r5, tripleforge.incremental): a later
    wave joins its band buckets against this snapshot and verifies with
    the stored shingle-hash sets, never rescanning this wave's text.
    ONE groupBy over the exploded posting computes all minima (and
    optionally ``collect_list`` of the doc's distinct shingle hashes —
    per-doc shingles are already distinct, so no dedup cost)."""
    posting = _shingle_posting(df, id_col, text_col, k=k)
    aggs = [
        F.min(F.xxhash64(F.col("sh"), F.lit(i))).alias(f"h{i}")
        for i in range(n_hashes)
    ]
    if with_sets:
        aggs.append(F.collect_list("sh").alias("shs"))
    return posting.groupBy("doc").agg(*aggs)


def minhash_band_buckets(
    per_doc: DataFrame, n_hashes: int = 32, n_bands: int = 8
) -> DataFrame:
    """Banded LSH buckets ``(doc, band, bucket)`` from per-doc minhash
    state: bands of r = n_hashes/n_bands rows; docs agreeing on ALL r
    minhashes of a band share its bucket. The SAME hash formula across
    waves is what makes stored buckets joinable incrementally."""
    r = n_hashes // n_bands
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(*[F.col(f"h{b * r + j}") for j in range(r)]).alias("bucket"),
        )
        for b in range(n_bands)
    ]
    return per_doc.select(
        "doc", F.explode(F.array(*band_structs)).alias("bb")
    ).select("doc", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 32,
    n_bands: int = 8,
    max_bucket: int = 5_000,
    verify_threshold: float | None = 0.5,
) -> DataFrame:
    """MinHash → banded LSH candidate pairs (optionally verified with
    exact shingle Jaccard computed ONLY for candidate pairs).

    bands of r = n_hashes/n_bands rows: docs agreeing on ALL r minhashes
    of any band land in one bucket → candidate. Bucket join is keyed by
    (band_id, band_hash) — uniform by construction; pathological buckets
    (constant documents) capped like linking blocks.

    Verification is candidate-restricted (VERDICT r1: recomputing exact
    Jaccard over the WHOLE corpus made LSH strictly more expensive than
    the exact algorithm it approximates). Shape (reworked for VERDICT r3
    #1 — the r2 'fast' number turned out to be subsidized by a leaked
    persist() cache shared with jaccard_pairs, recorded in SCALE.md
    §12): ONE groupBy over the exploded posting computes
    all n_hashes minima AND ``collect_set`` of the doc's shingle hashes,
    so the expensive scan+shuffle runs exactly once. The per-doc result
    (one row per document) is eagerly checkpointed — lazy blocks only
    land as each consumer stage's tasks compute them, so the 4 sibling
    stages each re-ran the lineage — and candidates are verified with a
    codegen ``array_intersect`` on the collected sets (the candidate
    list is tiny → AQE broadcasts it; the per-doc table is never
    shuffled again). At 100 TB the set array is bounded by document
    length (same order as the text itself) and rides the one shuffle the
    signatures already pay.
    """
    per_doc = _share(
        minhash_doc_state(
            df, id_col, text_col, n_hashes=n_hashes, k=5,
            with_sets=verify_threshold is not None,
        ),
        eager=True,
    )
    # r6: one explicit (band, bucket) repartition shared by the cap
    # count, the cap anti-join and the bucket self-join (see
    # jaccard_pairs — same single-exchange pattern)
    bands = block_and_cap(
        minhash_band_buckets(per_doc, n_hashes=n_hashes, n_bands=n_bands)
        .repartition(F.col("band"), F.col("bucket")),
        ["band", "bucket"], max_bucket,
    )
    a = bands.withColumnRenamed("doc", "doc_a")
    b = bands.withColumnRenamed("doc", "doc_b")
    cand = (
        a.join(b, ["band", "bucket"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates()
    )
    if verify_threshold is None:
        return cand
    # exact Jaccard for candidate pairs only: attach each side's shingle
    # set (broadcast the tiny candidate list onto the per-doc table) and
    # intersect JVM-side — no posting self-join, no extra shuffle.
    docsets = per_doc.select("doc", "shs", F.size("shs").alias("n_sh"))
    sa = docsets.select(
        F.col("doc").alias("doc_a"), F.col("shs").alias("shs_a"), F.col("n_sh").alias("n_a")
    )
    sb = docsets.select(
        F.col("doc").alias("doc_b"), F.col("shs").alias("shs_b"), F.col("n_sh").alias("n_b")
    )
    n_inter = F.size(F.array_intersect(F.col("shs_a"), F.col("shs_b")))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("n_inter", n_inter)
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6
            ),
        )
        .where(F.col("jaccard") >= verify_threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash (bitwise near-dup)
# ---------------------------------------------------------------------------


def simhash(col: Column, n_bits: int = 64) -> Column:
    """SimHash as an n_bits '0'/'1' string (string avoids ANSI bigint
    overflow on bit 63 and makes banding a substring).

    For each bit j: sign of Σ_tokens (2·bit_j(xxhash64(token)) − 1).
    Token hashes are materialized once per document, then each bit is an
    ``aggregate`` over that array — higher-order functions only, no
    explode, no shuffle. (The bit index must be a Python literal:
    ``shiftright`` takes a constant shift.)"""
    hashed = F.transform(tokens(col), lambda t: F.xxhash64(t))
    bits = [
        F.when(
            F.aggregate(
                hashed,
                F.lit(0).cast("long"),
                lambda acc, h: acc
                + F.shiftright(h, j).bitwiseAND(F.lit(1)) * 2
                - 1,
            )
            > 0,
            F.lit("1"),
        ).otherwise(F.lit("0"))
        for j in range(n_bits)
    ]
    return F.concat(*bits)


def simhash_df(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n_bits: int = 64
) -> DataFrame:
    """→ (doc, sh): the scalable SimHash — explode tokens once, hash
    each token once, then ONE codegen'd hash aggregate computes all
    n_bits signed sums (map-side combined). The bit string is assembled
    from the aggregate columns afterwards."""
    tok = widen_if_narrow(df.select(F.col(id_col).alias("doc"), F.col(text_col)), ["doc"]).select(
        "doc",
        F.explode(tokens(F.col(text_col))).alias("t"),
    ).select("doc", F.xxhash64("t").alias("h"))
    aggs = [
        F.sum(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"b{j}")
        for j in range(n_bits)
    ]
    summed = tok.groupBy("doc").agg(*aggs)
    bits = F.concat(
        *[
            F.when(F.col(f"b{j}") > 0, F.lit("1")).otherwise(F.lit("0"))
            for j in range(n_bits)
        ]
    )
    return summed.select("doc", bits.alias("sh"))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bits: int = 64,
    n_bands: int = 4,
    max_hamming: int = 6,
    max_bucket: int = 5_000,
) -> DataFrame:
    """SimHash near-dup pairs: band the bit-string (a pair within
    hamming ≤ (n_bands−1) collides on ≥1 band — pigeonhole), bucket-join,
    verify exact hamming distance ≤ max_hamming."""
    r = n_bits // n_bands
    # per-doc result is one short row; eager-share it so the token
    # explode + 64-bit-sum aggregate runs once, not once per downstream
    # stage (5.4 s → 2.7 s at sf0.1, recorded in SCALE.md §12)
    hashed = _share(simhash_df(df, id_col, text_col, n_bits), eager=True)
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.substring(F.col("sh"), b * r + 1, r).alias("bucket"),
        )
        for b in range(n_bands)
    ]
    bands = hashed.select(
        "doc", "sh", F.explode(F.array(*band_structs)).alias("bb")
    ).select("doc", "sh", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    # r6: shared (band, bucket) exchange — see jaccard_pairs
    bands = block_and_cap(
        bands.repartition(F.col("band"), F.col("bucket")),
        ["band", "bucket"], max_bucket,
    )
    a = bands.select(F.col("doc").alias("doc_a"), F.col("sh").alias("sh_a"), "band", "bucket")
    b = bands.select(F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b"), "band", "bucket")
    cand = (
        a.join(b, ["band", "bucket"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sh_a", "sh_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    # codegen hamming: XOR 32-bit chunks and popcount — the per-pair
    # verify is the hot path at corpus scale, and split/zip_with (three
    # 64-element array allocations per pair, interpreted) is ~10× the
    # cost of conv+bit_count (whole-stage codegen)
    chunks = []
    for c in range(0, n_bits, 32):
        w = min(32, n_bits - c)
        xa = F.conv(F.substring(F.col("sh_a"), c + 1, w), 2, 10).cast("long")
        xb = F.conv(F.substring(F.col("sh_b"), c + 1, w), 2, 10).cast("long")
        chunks.append(F.bit_count(xa.bitwiseXOR(xb)))
    hamming = chunks[0]
    for ch in chunks[1:]:
        hamming = hamming + ch
    return (
        cand.withColumn("hamming", hamming)
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


# ---------------------------------------------------------------------------
# Language ID (marker-word heuristic) + quality scoring
# ---------------------------------------------------------------------------

LANG_MARKERS: dict[str, str] = {
    # deterministic n-gram/stopword heuristic; priority order = dict order
    "en": r"\b(the|and|of|to|is|in)\b",
    "de": r"\b(der|die|das|und|ist|nicht)\b",
    "fr": r"\b(le|la|les|et|est|dans)\b",
    "es": r"\b(el|los|las|es|y|en)\b",
}


def lang_scores(col: Column) -> dict[str, Column]:
    t = F.lower(col)
    # r6: regexp_count — same match count as size(regexp_extract_all)
    # without materializing the match array per row (guide §1.2)
    return {
        lang: F.regexp_count(t, F.lit(pat))
        for lang, pat in LANG_MARKERS.items()
    }


def langid(col: Column, min_hits: int = 1) -> Column:
    """argmax of marker hits with fixed priority tie-break; 'und'
    (undetermined) when no marker reaches min_hits."""
    scores = lang_scores(col)
    best = F.greatest(*scores.values())
    expr = F.lit("und")
    for lang in reversed(list(scores)):  # earlier langs win ties
        expr = F.when(
            (scores[lang] >= min_hits) & (scores[lang] == best), F.lit(lang)
        ).otherwise(expr)
    return expr


def quality_score(col: Column) -> Column:
    """Deterministic [0,1] quality score: length saturation (50%),
    non-punctuation ratio (30%), non-digit ratio (20%) — the standard
    cheap pre-filter stack for corpus curation, mirrored exactly by the
    DuckDB oracle SQL."""
    n_chars = F.length(col)
    n_tokens = token_count(col)
    # r6 (guide §1.2 per-task work): count the POSITIVE classes.
    # The old length(regexp_replace(col, negated-class, '')) deleted the
    # ~98% of characters that are NOT punctuation — and Java evaluates
    # the negated multi-range class ~10× slower per char on top
    # (measured 1.8 s vs 0.19 s over sf1.0 on 32 cores; values verified
    # identical row-for-row, and the DuckDB oracle already counts the
    # positive class).
    punct = F.regexp_count(col, F.lit(r"[!-/:-@\[-`{-~]"))
    digits = F.regexp_count(col, F.lit(r"[0-9]"))
    safe = F.greatest(n_chars, F.lit(1))
    return F.round(
        F.least(n_tokens / F.lit(100.0), F.lit(1.0)) * 0.5
        + (F.lit(1.0) - punct / safe) * 0.3
        + (F.lit(1.0) - digits / safe) * 0.2,
        6,
    )


# ---------------------------------------------------------------------------
# PII redaction + structural quality (r5) — the scrubbing stage of a
# training-data curation pipeline (C4/Gopher-style preprocessing;
# public-knowledge recipes — /root/reference is empty). Pure Catalyst:
# a fixed regexp_replace chain, so a 100 TB scrub is one codegen
# projection with zero shuffles, and the DuckDB oracle can mirror the
# exact same RE2-compatible patterns (no lookarounds — DuckDB's RE2
# lacks them; Java and RE2 agree on every construct used here).
# ---------------------------------------------------------------------------

# (kind, pattern, placeholder) in APPLICATION ORDER: email first so
# dotted-digit local parts are consumed before the IP pattern sees
# them; SSN before the phone pattern (both are digit-dash shapes).
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
]


def redact(col: Column, kinds: tuple[str, ...] | None = None) -> Column:
    """Replace PII-shaped spans with typed placeholders. Sequential:
    each pattern runs over the previous pattern's output, so a span
    consumed by an earlier kind is never double-redacted."""
    out = col
    for kind, pat, repl in PII_PATTERNS:
        if kinds is None or kind in kinds:
            out = F.regexp_replace(out, pat, repl)
    return out


def pii_counts(col: Column) -> dict[str, Column]:
    """Raw per-kind hit counts on the ORIGINAL text (pre-redaction) —
    the filter signal for dropping PII-heavy documents. Kinds overlap
    by design (an email's dotted digits may also count as an IP);
    counts are per-pattern, not post-redaction."""
    # r6: regexp_count (same values, no per-row match array — guide §1.2)
    return {
        kind: F.regexp_count(col, F.lit(pat))
        for kind, pat, _ in PII_PATTERNS
    }


# the 8-word Gopher stopword set (Rae et al. 2021, §A1.1: a document
# must contain >= 2 of these to pass the "stop word" rule)
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(col: Column) -> dict[str, Column]:
    """Gopher-style document quality rules (Rae et al. 2021 — the
    standard pre-training corpus filter bundle), all pure Catalyst
    higher-order array functions over one split — zero shuffles, zero
    Python, linear scan like quality_score:

    - word_count, mean_word_len
    - alpha_word_ratio  (fraction of words containing a letter)
    - symbol_word_ratio (# and ellipsis occurrences per word)
    - bullet_line_ratio / ellipsis_line_ratio (over raw lines)
    - stopword_hits     (count of the 8 Gopher stop words present)
    - keep              (the conjunction of the published thresholds:
      50 <= words <= 100k, 3 <= mean_word_len <= 10,
      symbol_word_ratio < 0.1, bullet_line_ratio < 0.9,
      ellipsis_line_ratio < 0.3, alpha_word_ratio > 0.8,
      stopword_hits >= 2)
    """
    ws = tokens(col)
    wc = F.size(ws)
    wc_d = wc.cast("double")
    # r6 (guide §1.2): Σ len(word) == len(norm_text) − (wc − 1) because
    # the normalized text is exactly the words joined by single spaces —
    # one length() instead of an interpreted aggregate() over the token
    # array; integer-exact, so the rounded ratio is bit-identical.
    mean_wl = F.when(
        wc > 0,
        (F.length(norm_text(col)) - wc + 1) / wc_d,
    ).otherwise(F.lit(0.0))
    alpha_ratio = F.when(
        wc > 0,
        F.size(F.filter(ws, lambda w: w.rlike("[a-z]"))) / wc_d,
    ).otherwise(F.lit(0.0))
    symbol_ratio = F.when(
        wc > 0,
        F.regexp_count(col, F.lit(r"#|\.\.\.|…")) / wc_d,
    ).otherwise(F.lit(0.0))
    stop_hits = F.size(
        F.filter(
            F.array(*[F.lit(w) for w in GOPHER_STOPWORDS]),
            lambda sw: F.array_contains(ws, sw),
        )
    )
    lines = F.split(col, "\n")
    lc_d = F.size(lines).cast("double")
    bullet_ratio = F.size(
        F.filter(lines, lambda ln: F.trim(ln).rlike(r"^[-*•]"))
    ) / lc_d
    ellipsis_ratio = F.size(
        F.filter(lines, lambda ln: F.trim(ln).rlike(r"(\.\.\.|…)$"))
    ) / lc_d
    keep = (
        wc.between(50, 100_000)
        & mean_wl.between(3.0, 10.0)
        & (symbol_ratio < 0.1)
        & (bullet_ratio < 0.9)
        & (ellipsis_ratio < 0.3)
        & (alpha_ratio > 0.8)
        & (stop_hits >= 2)
    )
    return {
        "word_count": wc,
        "mean_word_len": mean_wl,
        "alpha_word_ratio": alpha_ratio,
        "symbol_word_ratio": symbol_ratio,
        "bullet_line_ratio": bullet_ratio,
        "ellipsis_line_ratio": ellipsis_ratio,
        "stopword_hits": stop_hits,
        "keep": keep,
    }


def repetition_ratio(col: Column, sep: str = "\n") -> Column:
    """Fraction of duplicated lines (1 − distinct/total) — the C4
    boilerplate-repetition signal. Empty text → 0.0."""
    lines = F.split(col, sep)
    return F.round(
        F.lit(1.0)
        - F.size(F.array_distinct(lines))
        / F.greatest(F.size(lines), F.lit(1)).cast("double"),
        6,
    )
