"""Exact duplicated-span detection (substring-level dedup).

Document-level dedup (``operators/dedup.py``) misses the common
web-corpus failure mode where *parts* of documents repeat — boilerplate
headers, license blocks, quoted passages — while the documents as a
whole differ. The published remedy is exact substring deduplication
over the corpus-wide suffix array ("Deduplicating Training Data Makes
Language Models Better", Lee et al., ACL 2022): find every substring
of >= L tokens that occurs more than once in the corpus.

A monolithic suffix array does not distribute; the standard
shuffle-friendly equivalent (used here) detects the same spans through
fixed-width token k-grams:

1. inventory every k-gram occurrence ``(doc_id, pos, gram)`` — pure
   JVM expressions (``transform``/``slice``/``posexplode``), no UDFs;
2. a gram is *duplicated* iff it occurs >= 2 times corpus-wide
   (map-side-combined groupBy on the gram's ``xxhash64``, then a
   left-semi join back — AQE handles hot-gram skew on the join);
3. per document, merge duplicated gram starts into maximal islands
   (gap-and-islands over a ``doc_id`` window: a break when the next
   duplicated start is > k away, so covered token ranges that overlap
   or touch fuse into one span).

Every substring of length >= k that repeats corpus-wide is covered by
duplicated k-grams, so each such substring lies inside a reported
span; conversely every reported span is a union of repeated k-grams.
That is exactly the guarantee the suffix-array construction gives at
granularity k.

Scale shape (100 TB posture): the gram inventory is O(total tokens)
rows but only (doc_id, pos, 64-bit hash) wide after hashing; it is
shuffled twice (dup test, per-doc window) — both on keys with
map-side reduction or natural doc locality. No driver materialization,
no all-pairs anything; the hot-gram worst case (a stop-phrase
occurring everywhere) costs one skewed join partition that AQE splits,
not a cross product.

Two rejected alternatives, measured at sf0.1/local[32]:

- ``count(*) over (partition by gram_hash)`` instead of
  groupBy+semi-join — 4.5-5.0 s vs 7.0-7.4 s here (one scan instead
  of two), but it shuffles the ENTIRE occurrence inventory by gram
  hash and parks every occurrence of a hot gram in ONE window
  partition, which AQE cannot split (skew handling covers joins and
  post-shuffle coalescing, not window partitions). A web-corpus
  stop-phrase with 1e9 occurrences = a guaranteed straggler/OOM at
  100 TB. The groupBy path ships only map-side-combined partial
  counts and lets AQE manage the join; the price is re-scanning the
  column-pruned (id, text) projection — linear, spill-free, and the
  scan is the cheap resource at cluster scale.
- hashing the token-array slice directly (``xxhash64(slice(toks))``,
  skipping the gram string build) — 13.7-24 s, 2x SLOWER: Catalyst's
  array hashing walks elements with per-element dispatch and
  allocates a slice per gram; ``concat_ws`` + string xxhash64 is the
  fast path.

Reference parity: the reference engine has no substring analytics at
all (its only dedup is the whole-value pymongo ``$group``,
``/root/reference/src/transform_load.py:48-50``); this module is part
of the training-data-pipeline extension surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import partitioning


def _maybe_checkpoint_inventory(src: DataFrame, occ: DataFrame) -> DataFrame:
    """Size-gated tracked localCheckpoint of a gram inventory.

    ``occ`` (the (id, pos, hash) occurrence stream derived from
    ``src``) is consumed twice by the dup-test + semi-join shape; at
    bench/fixture scale re-deriving it costs a full second
    scan + posexplode + window pass (27.1 task-CPU-s at sf0.1 — the #4
    CPU burner in the r12 bench ledger). While the SOURCE relation's
    plan-time size estimate is small (the inventory gate in
    ``partitioning.py``) the inventory is materialized once; above
    it the relation is returned unchanged and the caller's two-pass
    plan stands — its second scan is linear and spill-free (the
    documented 100 TB trade).
    """
    if not partitioning.is_small(
        partitioning.plan_bytes(src), partitioning.INVENTORY_CKPT_MAX_BYTES
    ):
        return occ
    from .lifecycle import tracked_local_checkpoint

    return tracked_local_checkpoint(occ)


def norm_tokens(text: Column | str) -> Column:
    """Whitespace tokens of lower(trim(text)) — the shared
    normalization used by the dedup family (`fingerprint`)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(F.lower(F.coalesce(c, F.lit("")))), r"\s+")


def gram_occurrences(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """One row per token k-gram occurrence: (id, pos, gram).

    ``pos`` is the 1-based token index of the gram's first token.
    Documents shorter than ``k`` tokens contribute no rows. All
    expression-level (sequence/slice/concat_ws under posexplode) —
    stays inside whole-stage codegen until the explode.
    """
    toks = norm_tokens(text_col)
    n = F.size(toks)
    # sequence(1, n-k+1) is DESCENDING when n < k — guard to empty.
    starts = F.when(n >= k, F.sequence(F.lit(1), n - F.lit(k - 1))).otherwise(
        F.array().cast("array<int>")
    )
    grams = F.transform(
        starts, lambda i: F.concat_ws(" ", F.slice(toks, i, k))
    )
    out = df.select(F.col(id_col), F.posexplode(grams).alias("__i", "gram"))
    return out.select(
        id_col, (F.col("__i") + 1).cast("long").alias("pos"), "gram"
    )


def gram_hash_occurrences(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """One row per token k-gram occurrence, identified by HASH only:
    (id, pos, __gh) with ``__gh = xxhash64(tok₁,…,tok_k)``.

    The whole-stage-codegen formulation of :func:`gram_occurrences`
    for consumers that never need the gram STRING (duplicated_spans):
    posexplode the tokens once, build the gram identity with k−1
    ``lead()`` columns over (id, pos) and hash the k token columns
    directly — no per-gram array slice, no string concatenation, no
    interpreted higher-order lambda (the trap NOTES.md documents for
    frequent_bigrams; measured 81 s → see NOTES round 7 at sf1).
    Tokens are whitespace-split so the multi-column hash identifies
    exactly the same grams as hashing the space-joined string
    (collision class unchanged: 2⁻⁶⁴ per pair).

    One exchange: ``spread`` clusters by ``id``, the explode is
    narrow, and the window's (id, pos) requirement is satisfied by
    that same partitioning — per-doc state only, no hot-key skew
    (windowing BY GRAM was rejected with measurements in round 6; BY
    DOC is bounded by document length).
    """
    toks = norm_tokens(text_col)
    exploded = partitioning.spread(df, id_col).select(
        F.col(id_col), F.posexplode(toks).alias("__i", "__tok")
    )
    w = Window.partitionBy(id_col).orderBy("__i")
    lead_cols = [F.lead("__tok", j).over(w).alias(f"__t{j}") for j in range(1, k)]
    g = exploded.select(
        id_col, (F.col("__i") + 1).cast("long").alias("pos"), "__tok", *lead_cols
    )
    last = f"__t{k - 1}" if k > 1 else "__tok"
    return g.filter(F.col(last).isNotNull()).select(
        id_col,
        "pos",
        F.xxhash64("__tok", *[f"__t{j}" for j in range(1, k)]).alias("__gh"),
    )


def duplicated_spans(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    min_count: int = 2,
) -> DataFrame:
    """Maximal duplicated spans per document.

    Returns (id, span_start, span_end) token ranges (1-based,
    inclusive) such that every corpus-repeated substring of >= k
    tokens is contained in some span. Only documents containing at
    least one duplicated k-gram appear.

    ``min_count``: minimum corpus-wide occurrence count (>= 2) for a
    gram to count as duplicated; occurrences inside one document
    count (a doc that repeats its own boilerplate dedups against
    itself, matching the suffix-array semantics).
    """
    # duplication is tested on the gram's 64-bit hash, never the
    # string (collision risk 2^-64 per pair — the standard trade), so
    # the codegen hash-gram path applies: no gram strings anywhere.
    # The inventory is consumed twice (dup test + semi-join back);
    # below the size gate it is checkpointed so documents are scanned
    # and exploded ONCE (r13, guide §2.4/§5 — see
    # :func:`_maybe_checkpoint_inventory` for the 100 TB trade).
    occ = _maybe_checkpoint_inventory(
        df, gram_hash_occurrences(df, id_col=id_col, text_col=text_col, k=k)
    )
    dup = (
        occ.groupBy("__gh")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") >= min_count)
        .select("__gh")
    )
    hits = occ.join(dup, "__gh", "left_semi").select(id_col, "pos")

    w = Window.partitionBy(id_col).orderBy("pos")
    brk = F.when(F.col("pos") - F.lag("pos").over(w) <= k, F.lit(0)).otherwise(
        F.lit(1)
    )
    islands = hits.select(
        id_col, "pos", F.sum(brk).over(w).alias("__island")
    )
    # grouping keys contain the window partition key -> no new exchange
    return islands.groupBy(id_col, "__island").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + F.lit(k - 1)).alias("span_end"),
    ).drop("__island")


def top_dup_grams(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    min_count: int = 2,
    top_n: int = 20,
) -> DataFrame:
    """Top-``top_n`` corpus-wide duplicated k-grams:
    (gram, occurrences, doc_freq), ordered (occurrences DESC, gram).

    Hash-first: counting runs entirely on the codegen
    :func:`gram_hash_occurrences` stream — the gram STRING is built
    for O(top_n + boundary ties) representative occurrences only,
    never for the corpus (the all-strings formulation paid an
    interpreted slice+concat_ws per gram: 65 s → ~4 s engine-side at
    sf1). Stages:

    1. ONE per-hash aggregate carrying (occurrences, doc_freq, and a
       min-struct representative (id, pos)) — map-side combined, one
       shuffle on the hash; the occurrence stream is consumed exactly
       once (a separate representative pass re-ran the whole
       tokenize+window stream: 13.9 s vs 7.5 s at sf1);
    2. boundary threshold = the ``top_n``-th largest occurrence count
       (a ``limit(top_n)`` + 1-row min, broadcast back); every hash AT
       the boundary survives because the final order tie-breaks on the
       gram string, which is unknown at hash level;
    3. the O(top_n + ties) survivors join their representative docs'
       token arrays to rebuild just those strings — small side
       planner-broadcast, one narrow corpus re-scan;
    4. final exact (occurrences DESC, gram) order + limit.

    Gram identity is the 64-bit hash — the same 2⁻⁶⁴-per-pair
    fingerprint trade :func:`duplicated_spans` documents (a colliding
    pair would merge counts and report the representative's string).
    """
    occ_h = gram_hash_occurrences(df, id_col=id_col, text_col=text_col, k=k)
    hstats = (
        occ_h.groupBy("__gh")
        .agg(
            F.count(F.lit(1)).alias("occurrences"),
            F.countDistinct(id_col).alias("doc_freq"),
            F.min(
                F.struct(F.col(id_col).alias("id"), F.col("pos").alias("pos"))
            ).alias("r"),
        )
        .filter(F.col("occurrences") >= min_count)
    )
    th = (
        hstats.orderBy(F.desc("occurrences"), "__gh")
        .limit(top_n)
        .agg(F.min("occurrences").alias("__min_occ"))
    )
    cand = (
        hstats.crossJoin(F.broadcast(th))
        .filter(F.col("occurrences") >= F.col("__min_occ"))
        .select(
            "__gh",
            "occurrences",
            "doc_freq",
            F.col("r.id").alias("id"),
            F.col("r.pos").alias("pos"),
        )
    )
    toks = df.select(
        F.col(id_col).alias("id"), norm_tokens(text_col).alias("__ts")
    )
    return (
        cand.join(toks, "id")
        .select(
            F.concat_ws(
                " ", F.slice(F.col("__ts"), F.col("pos").cast("int"), k)
            ).alias("gram"),
            "occurrences",
            "doc_freq",
        )
        .orderBy(F.desc("occurrences"), "gram")
        .limit(top_n)
    )


#: Gopher repetition thresholds (Rae et al., arXiv 2112.11446,
#: Table A1): a document is flagged when the fraction of characters
#: inside WITHIN-DOC duplicated n-grams exceeds the n's threshold.
GOPHER_DUP_NGRAM_THRESHOLDS: dict[int, float] = {
    5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10,
}


def dup_ngram_char_fraction(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    ns: tuple[int, ...] = (5, 6, 7, 8, 9, 10),
    thresholds: dict[int, float] | None = None,
) -> DataFrame:
    """Per-(document, n) fraction of characters covered by WITHIN-DOC
    duplicated n-grams — the second half of Gopher's repetition rule
    family (Rae et al. 2112.11446 Table A1 "duplicate n-grams,
    fraction of characters", n = 5..10; the top-n-gram half lives in
    ``gopher_top_ngram_fraction``).

    Characters are counted over the space-joined normalized token
    stream (deterministic in both engines regardless of the source
    whitespace), and overlapping duplicated grams are counted ONCE —
    an exact interval union per (doc, n), not a sum of gram lengths.

    Output: (id, n, dup_chars, total_chars, dup_char_frac, flagged).
    One row per document per n (documents shorter than n tokens get
    0 / frac 0.0). An ``n`` with no threshold (neither published nor
    passed in ``thresholds``) is measured but NEVER flagged.

    100 TB shape — everything rides ONE exchange on the document id:

    1. posexplode tokens once; cumulative char offsets and the
       n-gram identities for EVERY n come from lead() columns over
       the (id, token-index) window (the corpus is tokenized once —
       the gopher_top_ngram_fraction trick, with spans added);
    2. within-doc duplicate marking is an unordered COUNT window over
       (id, n, gram-hash) — its partition is bounded by the document
       length and its clustering requirement is satisfied by the
       id-hash exchange already in place (id ⊆ keys), so no second
       shuffle;
    3. the interval union is the classic sweep: sort each (id, n)
       slice by span start, running max of span end over the
       PRECEDING rows, contribution = max(0, end − max(start,
       prev_max)) — again bounded by doc length, again no new
       exchange;
    4. only the final per-(id, n) sums aggregate across the corpus.

    Gram identity is the 64-bit ``xxhash64`` of the n token columns —
    the same 2⁻⁶⁴-per-pair trade :func:`duplicated_spans` documents.

    Reference parity: the reference engine has no text analytics
    (its pipeline is fetch/resize/store,
    /root/reference/src/transform_load.py); this operator is part of
    the LLM-curation extension surface.
    """
    thr = dict(GOPHER_DUP_NGRAM_THRESHOLDS)
    if thresholds:
        thr.update(thresholds)
    ns = tuple(sorted(set(ns)))
    max_n = max(ns)

    toks = norm_tokens(text_col)
    exploded = partitioning.spread(df, id_col).select(
        F.col(id_col).alias("id"),
        F.posexplode(toks).alias("__i", "__tok"),
    )
    w = Window.partitionBy("id").orderBy("__i")
    # inclusive running sum of (len + 1 separator): token __i covers
    # chars [cum - len - 1, cum - 1) of the space-joined stream
    cum = F.sum(F.length("__tok") + F.lit(1)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    base = exploded.select(
        "id",
        "__i",
        "__tok",
        (cum - F.length("__tok") - F.lit(1)).alias("__gstart"),
        (cum - F.lit(1)).alias("__tend"),
        *[
            F.lead("__tok", j).over(w).alias(f"__t{j}")
            for j in range(1, max_n)
        ],
        *[
            F.lead(cum - F.lit(1), n - 1).over(w).alias(f"__e{n}")
            for n in ns
        ],
    )
    grams = F.array(
        *[
            F.when(
                F.col(f"__t{n - 1}").isNotNull(),
                F.struct(
                    F.lit(n).alias("n"),
                    F.xxhash64(
                        "__tok", *[f"__t{j}" for j in range(1, n)]
                    ).alias("gh"),
                    F.col("__gstart").alias("gstart"),
                    F.col(f"__e{n}").alias("gend"),
                ),
            )
            for n in ns
        ]
    )
    occ = (
        base.select("id", F.explode(grams).alias("g"))
        .filter(F.col("g").isNotNull())
        .select("id", "g.n", "g.gh", "g.gstart", "g.gend")
    )
    # within-doc duplicate test: unordered count window, partition
    # bounded by doc length, clustering satisfied by the id exchange
    cnt = F.count(F.lit(1)).over(Window.partitionBy("id", "n", "gh"))
    dups = occ.withColumn("__c", cnt).filter(F.col("__c") >= 2)
    # interval union sweep per (id, n): gstart is unique within the
    # slice (one gram per start position), so the order is total
    wcov = Window.partitionBy("id", "n").orderBy("gstart")
    pmax = F.max("gend").over(
        wcov.rowsBetween(Window.unboundedPreceding, -1)
    )
    contrib = F.greatest(
        F.lit(0).cast("long"),
        F.col("gend")
        - F.greatest(F.col("gstart"), F.coalesce(pmax, F.col("gstart"))),
    )
    dup_chars = (
        dups.select("id", "n", contrib.alias("__contrib"))
        .groupBy("id", "n")
        .agg(F.sum("__contrib").alias("dup_chars"))
    )
    totals = df.select(
        F.col(id_col).alias("id"),
        F.length(F.array_join(toks, " ")).cast("long").alias("total_chars"),
        F.explode(F.array(*[F.lit(n) for n in ns])).alias("n"),
    )
    thr_col = F.element_at(
        F.create_map(
            *[F.lit(x) for n in ns for x in (n, float(thr.get(n, 1.0)))]
        ),
        F.col("n"),
    )
    out = (
        totals.join(dup_chars, ["id", "n"], "left")
        .select(
            F.col("id").alias(id_col),
            "n",
            F.coalesce("dup_chars", F.lit(0)).cast("long").alias("dup_chars"),
            "total_chars",
        )
        .withColumn(
            "dup_char_frac",
            F.when(F.col("total_chars") == 0, F.lit(0.0)).otherwise(
                F.round(
                    F.col("dup_chars").cast("double")
                    / F.col("total_chars").cast("double"),
                    6,
                )
            ),
        )
    )
    return out.withColumn("flagged", F.col("dup_char_frac") > thr_col)


def substring_dedup_rewrite(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Exact substring dedup REWRITE (Lee et al. ACL'22 §4,
    ExactSubstr: "remove all but one occurrence"): cut every
    corpus-duplicated >= k-token span from each document, keeping each
    duplicated gram's globally FIRST occurrence (min (id, pos) —
    deterministic), and return the rewritten text.

    Output: (id, orig_tokens, removed_tokens, kept_text), one row per
    input document. ``kept_text`` is the NORMALIZED token stream
    (lower/trim, single spaces) minus the removed spans; a fully
    duplicated document yields ``''``.

    Plan shape (100 TB posture — same backbone as
    :func:`duplicated_spans`):

    1. hash-gram inventory (codegen, no strings);
    2. per-gram aggregate carrying count + min (id, pos) — map-side
       combined, one shuffle on the gram hash;
    3. removal occurrences = duplicated grams' non-first occurrences
       (join back on the hash; AQE splits hot grams);
    4. gap-and-islands per doc merges removal grams into disjoint
       covered spans (doc-local window);
    5. covered token indices explode from the disjoint spans,
       LEFT ANTI join against the token inventory on (id, index) —
       all map-side-combinable keys, bounded by corpus token count;
    6. per-doc rebuild: sort_array over the collected (index, token)
       structs (bounded by document length), concat.

    Reference parity: no substring analytics in the reference (its
    dedup is whole-value $group, transform_load.py:48-50) — LLM
    curation extension surface.
    """
    # same double-consumption shape as duplicated_spans (firsts
    # aggregate + removals join) — same size-gated materialization
    occ = _maybe_checkpoint_inventory(
        df, gram_hash_occurrences(df, id_col=id_col, text_col=text_col, k=k)
    )
    firsts = (
        occ.groupBy("__gh")
        .agg(
            F.count(F.lit(1)).alias("__c"),
            F.min(
                F.struct(F.col(id_col).alias("id"), F.col("pos").alias("pos"))
            ).alias("__first"),
        )
        .filter(F.col("__c") >= 2)
        .select("__gh", "__first")
    )
    removals = (
        occ.join(firsts, "__gh")
        .filter(
            ~(
                (F.col(id_col) == F.col("__first.id"))
                & (F.col("pos") == F.col("__first.pos"))
            )
        )
        .select(id_col, "pos")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    brk = F.when(
        F.col("pos") - F.lag("pos").over(w) <= k, F.lit(0)
    ).otherwise(F.lit(1))
    spans = (
        removals.select(id_col, "pos", F.sum(brk).over(w).alias("__island"))
        .groupBy(id_col, "__island")
        .agg(
            F.min("pos").alias("__s"),
            (F.max("pos") + F.lit(k - 1)).alias("__e"),
        )
    )
    # islands are disjoint per doc by construction -> the exploded
    # index stream is duplicate-free, no distinct needed
    covered = spans.select(
        id_col, F.explode(F.sequence("__s", "__e")).alias("__idx")
    )
    toks = norm_tokens(text_col)
    tokens = partitioning.spread(df, id_col).select(
        F.col(id_col), F.posexplode(toks).alias("__i0", "__tok")
    ).select(id_col, (F.col("__i0") + 1).cast("long").alias("__idx"), "__tok")
    kept = tokens.join(covered, [id_col, "__idx"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("__kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("__idx", F.col("__tok")))
                ),
                lambda s: s["__tok"],
            ),
        ).alias("kept_text"),
    )
    base = df.select(F.col(id_col), F.size(toks).cast("long").alias("orig_tokens"))
    return base.join(rebuilt, id_col, "left").select(
        id_col,
        "orig_tokens",
        (F.col("orig_tokens") - F.coalesce("__kept", F.lit(0))).alias(
            "removed_tokens"
        ),
        F.coalesce("kept_text", F.lit("")).alias("kept_text"),
    )
