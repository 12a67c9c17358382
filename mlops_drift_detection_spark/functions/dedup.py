"""Deduplication operators for large-scale training-data pipelines.

All variants are shuffle-shaped for 100 TB: candidate generation is always a
key-partitioned groupBy/join (never an all-pairs cross product), and hashing
stays JVM-side (`xxhash64`, `sha2`, `md5`, `hash`) — no Python UDFs.

* minhash_lsh_candidates — shingle -> K minhashes -> B bands -> bucket join.
  Shuffle volume is O(rows x B), candidates only within equal band-buckets.
* simhash64_native — 64-bit SimHash entirely JVM-side (md5 token hashes —
  engine-portable, so DuckDB oracles reproduce signatures bit-for-bit).
  Near-dup candidates come from 8 DISJOINT 8-bit bands (pigeonhole: any
  pair within Hamming bands-1 shares a band -> candidate generation is
  COMPLETE for thresholds <= 7).
* ngram_jaccard — exact Jaccard on n-gram sets for a candidate pair set
  (verification stage after LSH).
* prefix_filter_jaccard_join — EXACT n-gram Jaccard self-join via prefix
  filtering (SSJoin/PPJoin lemma): deterministic completeness, no LSH miss
  probability; rarest-first global gram order keeps prefix buckets small.

Pair output feeds functions/cluster.py (connected components) for the
cluster-assignment stage.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def shingles(col: Column, k: int = 5) -> Column:
    """Word k-shingles as an array<string> (native: split + transform)."""
    toks = F.split(F.trim(F.lower(col)), "\\s+")
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.when(n >= k, F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, k), " "))).otherwise(
        F.array(F.array_join(toks, " "))
    )


def _pairs_from_sorted_ids(ids: Column) -> Column:
    """All (a, b) with a before b in a sorted id array, as array<struct>.
    Bounded work: callers cap the array size (bucket cap) first."""
    n = F.size(ids)
    return F.flatten(
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.transform(
                F.slice(ids, i + 1, n),
                lambda b: F.struct(
                    F.element_at(ids, i).alias("id_a"), b.alias("id_b")
                ),
            ),
        )
    )


def band_bucket_keys(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
) -> DataFrame:
    """(id, band, bucket) LSH band keys.

    Plan shape: explode shingles to rows, then ONE hash aggregate computing
    all K minhashes as ``min(xxhash64(shingle, seed))`` agg expressions.
    Higher-order-function lambdas are CodegenFallback in Spark — the
    per-row ``transform(seeds, s -> array_min(transform(shingles, ...)))``
    formulation evaluated K x S interpreted expression trees per document
    (measured ~40 s for 1000 x 54-token docs on one task); the explode+agg
    form keeps every hash inside whole-stage codegen. Bit-identical output:
    ``xxhash64(sh, lit(s))`` is the same expression the lambda produced, min
    over exploded rows == array_min, and ``concat_ws`` == ``array_join`` on
    the same cast-to-string hash values (``test_dedup`` pins new == old).

    Scale note: the groupBy(id) adds one exchange the projection form did
    not have, but a document's shingles are co-partitioned with it by
    construction, so map-side partial aggregation collapses the shuffle to
    ~one 64-long row per document — paid once, against a ~100x CPU drop on
    the hashing itself (interpreted HOF eval -> codegen).

    NULL/empty text: ``shingles`` returns ``[NULL]`` for NULL input (one
    element, never a NULL array), so the exploded row carries sh=NULL and
    ``min(xxhash64(NULL, s))`` equals the old ``array_min([xxhash64(NULL,
    s)])`` — xxhash64 skips null inputs and hashes the seed column alone,
    deterministically. The ``coalesce`` below is a belt-and-braces guard for
    a caller-supplied NULL array; it preserves the doc as one NULL-shingle
    row instead of ``explode`` dropping it."""
    rows_per_band = num_hashes // bands
    sh_arr = shingles(F.col(text_col), shingle_k)
    exploded = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.coalesce(sh_arr, F.array(F.lit(None).cast("string")))
        ).alias("sh"),
    )
    sig = exploded.groupBy("id").agg(
        *[
            F.min(F.xxhash64(F.col("sh"), F.lit(s))).alias(f"h{s}")
            for s in range(num_hashes)
        ]
    )
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"h{i}").cast("string")
                        for i in range(b * rows_per_band, (b + 1) * rows_per_band)
                    ],
                )
            ).alias("bucket"),
        )
        for b in range(bands)
    ]
    return sig.select(
        "id", F.explode(F.array(*band_structs)).alias("bk")
    ).select("id", "bk.band", "bk.bucket")


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) via banded MinHash LSH.

    rows -> signatures (one projection) -> explode B band keys -> groupBy
    band-bucket -> emit in-bucket pairs -> distinct. Pair emission is a
    groupBy + array explode, NOT a self-join: one scan of the input, no
    cached intermediate to leak, and the quadratic in-bucket work is
    explicitly bounded by ``max_bucket_size`` — a degenerate bucket (empty/
    boilerplate docs all hashing together) is dropped instead of going
    O(b^2). Dropped members are by construction near-identical boilerplate;
    the usual policy at 100 TB is to route them to an exact-dedup pass (one
    linear shuffle on a content digest).
    """
    buckets = (
        band_bucket_keys(df, text_col, id_col, num_hashes, bands, shingle_k)
        .groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list("id")).alias("ids"))
        .where(F.size("ids") > 1)
    )
    if max_bucket_size is not None:
        buckets = buckets.where(F.size("ids") <= max_bucket_size)
    return (
        buckets.select(F.explode(_pairs_from_sorted_ids(F.col("ids"))).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def ngram_jaccard(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    cache: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs: joins each side to
    its shingle set, then computes |A∩B| / |A∪B| with native array ops.

    ``cache=True`` persists the gram sets (joined on both pair sides) for
    the duration of the job — opt-in, because a long-lived session running
    many queries would otherwise accumulate never-unpersisted blocks in
    executor storage memory; the default recomputes the (cheap, scan-local)
    gram projection once per side."""
    sets = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(shingles(F.col(text_col), n)).alias("grams"),
    )
    if cache:
        sets = sets.cache()
    return (
        pairs.join(sets.select(F.col("id").alias("id_a"), F.col("grams").alias("ga")), "id_a")
        .join(sets.select(F.col("id").alias("id_b"), F.col("grams").alias("gb")), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("ga", "gb"))
                / F.size(F.array_union("ga", "gb"))
            ).alias("jaccard"),
        )
    )


def _check_threshold(threshold: float) -> None:
    """Similarity thresholds live in (0, 1]: above 1 the prefix length
    ``|x| - ceil(t*|x|) + 1`` drops to <= 0 (Spark's ``slice`` then fails
    with an unnamed error), and at or below 0 pairs sharing no gram would
    qualify but are never candidates, so they would be silently missed.
    NaN fails too."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold!r}")


def prefix_filter_jaccard_join(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    n: int = 3,
    max_token_bucket: int | None = None,
) -> DataFrame:
    """EXACT n-gram Jaccard similarity self-join via prefix filtering — the
    deterministic member of the dedup family (minhash/simhash are
    probabilistic; this is complete by construction, per the published
    prefix-filter lemma from the SSJoin/PPJoin literature: Chaudhuri et al.
    ICDE'06, Xiao et al. WWW'08).

    Candidate generation: order every doc's distinct n-gram set by ONE global
    total order (document frequency ascending, gram value tiebreak — rarest
    first, the canonical choice because rare grams make small buckets), take
    each doc's PREFIX of length ``|x| - ceil(t*|x|) + 1``, and bucket-join on
    prefix grams. Lemma: any pair with ``J >= t`` has overlap
    ``>= ceil(t*max(|A|,|B|))``, which pigeonholes at least one shared gram
    into both prefixes — so bucket pairs are a superset of all true pairs,
    and the exact array-intersect verification makes the result EQUAL to the
    exhaustive all-pairs answer (pytest-asserted; the DuckDB oracle is the
    exhaustive join).

    Shuffle shape at 100 TB: (1) gram-frequency groupBy (map-side combine),
    (2) gram-keyed join of the exploded doc-grams with the frequency table
    (AQE broadcasts it when small) + per-doc re-aggregation, (3) prefix-gram
    bucket groupBy with in-bucket pair emission — groupBy + array explode,
    never a self-join — and (4) the verification joins. Every stage is
    key-partitioned and linear except the in-bucket quadratic, which prefix
    theory keeps small (a gram only lands in a prefix when rare-for-its-doc)
    and ``max_token_bucket`` caps explicitly.
    """
    _check_threshold(threshold)
    sets = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(shingles(F.col(text_col), n)).alias("grams"),
    )
    toks = sets.select("id", F.size("grams").alias("sz"), F.explode("grams").alias("g"))
    freq = toks.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    ordered = (
        toks.join(freq, "g")
        .groupBy("id", "sz")
        .agg(F.array_sort(F.collect_list(F.struct("df", "g"))).alias("og"))
    )
    plen = (F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1).cast("int")
    prefixes = ordered.select(
        "id",
        F.explode(
            F.slice(F.transform("og", lambda s: s["g"]), F.lit(1), plen)
        ).alias("g"),
    )
    buckets = (
        prefixes.groupBy("g")
        .agg(F.array_sort(F.collect_list("id")).alias("ids"))
        .where(F.size("ids") > 1)
    )
    if max_token_bucket is not None:
        buckets = buckets.where(F.size("ids") <= max_token_bucket)
    cands = (
        buckets.select(F.explode(_pairs_from_sorted_ids(F.col("ids"))).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )
    return ngram_jaccard(df, cands, text_col, id_col, n=n).where(
        F.col("jaccard") >= threshold
    )


def containment_prefix_join(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    n: int = 3,
    max_gram_df: int | None = None,
) -> DataFrame:
    """ASYMMETRIC set-containment join: ordered pairs (a, b), a != b, with
    ``C(a->b) = |S(a) ∩ S(b)| / |S(a)| >= t`` over distinct n-gram sets —
    the quote/subsumption detector symmetric Jaccard cannot express: a short
    doc wholly quoted inside a much longer one has J ~ |A|/|B| (arbitrarily
    small) but containment 1.0. This is the dedup rule for nested crawl
    records and re-posted excerpts (containment variant of the SSJoin
    family: Chaudhuri et al. ICDE'06; Agrawal et al. WWW'10 use the same
    probe-prefix/full-index asymmetry).

    Candidate generation adapts the prefix-filter lemma to asymmetry: a
    qualifying pair shares ``>= ceil(t*|A|)`` grams, so probing with A's
    prefix of length ``|A| - ceil(t*|A|) + 1`` (global df-ascending order,
    rarest first) against a FULL inverted index of all docs' grams is
    complete — only the PROBE side may be prefixed, because the bound is in
    |A| alone (prefix-filtering the index side needs t*|B| overlap, which
    containment does not guarantee). Verification then computes the exact
    containment on the distinct candidate set; the result EQUALS the
    exhaustive ordered-pairs join (the DuckDB oracle) whenever the
    ``max_gram_df`` stop-gram cap does not fire.

    ``max_gram_df`` drops viral grams (df above the cap) from probe AND
    index. The lemma survives the drop (the surviving prefix still
    pigeonholes: B missing the whole surviving prefix caps the surviving
    overlap below ``ceil(t*|A|) - n_dropped_A``), EXCEPT for pairs whose
    entire intersection was capped away — the same documented
    incompleteness as every stop-digest path here; audit via gram df before
    relying on a cap at production scale.

    Shuffle shape at 100 TB: gram-df groupBy (map-side combine) -> per-doc
    re-aggregation for the ordered prefix -> one gram-keyed probe-index
    join whose per-gram cost is |probe(g)| x |index(g)| (bounded by the
    cap; prefix theory keeps probe(g) small because a gram only enters a
    prefix when rare-for-its-doc) -> distinct candidates -> two set joins
    for exact verification. No self-join of the corpus ever happens."""
    _check_threshold(threshold)
    sets = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(shingles(F.col(text_col), n)).alias("grams"),
    )
    toks = sets.select("id", F.size("grams").alias("sz"), F.explode("grams").alias("g"))
    freq = toks.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    if max_gram_df is not None:
        freq = freq.where(F.col("df") <= max_gram_df)
    kept = toks.join(freq, "g")
    ordered = kept.groupBy("id", "sz").agg(
        F.array_sort(F.collect_list(F.struct("df", "g"))).alias("og")
    )
    plen = (F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1).cast("int")
    prefixes = ordered.select(
        F.col("id").alias("id_contained"),
        F.explode(
            F.slice(F.transform("og", lambda s: s["g"]), F.lit(1), plen)
        ).alias("g"),
    )
    index = kept.select(F.col("id").alias("id_container"), "g")
    cands = (
        prefixes.join(index, "g")
        .where(F.col("id_contained") != F.col("id_container"))
        .select("id_contained", "id_container")
        .distinct()
    )
    verified = (
        cands.join(
            sets.select(F.col("id").alias("id_contained"), F.col("grams").alias("ga")),
            "id_contained",
        )
        .join(
            sets.select(F.col("id").alias("id_container"), F.col("grams").alias("gb")),
            "id_container",
        )
        .select(
            "id_contained",
            "id_container",
            (
                F.size(F.array_intersect("ga", "gb")) / F.size("ga")
            ).alias("containment"),
        )
    )
    return verified.where(F.col("containment") >= threshold)


_POW2_64 = [1 << b for b in range(63)] + [-(1 << 63)]  # two's-complement bit 63
_POW2_32 = [1 << b for b in range(32)]


def simhash64_native(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, simhash): 64-bit SimHash computed ENTIRELY JVM-side — no Python.

    Token hash = first 64 bits of md5(token), an engine-portable choice: md5
    is standard everywhere, so the DuckDB oracle reproduces the signatures
    bit-for-bit (xxhash64 would be Spark-only, FNV needs a UDF).

    Plan shape: explode tokens to rows, project (hi, lo) md5 halves once per
    token, then ONE hash aggregate with 64 ``sum(+-1 vote)`` expressions and
    a 64-term packing projection. The previous per-row
    ``aggregate(tokens, zip_with(64 bits))`` lambda accumulator was
    CodegenFallback — tokens x 64 interpreted expression evals per document
    (measured ~17 s for 400 x 54-token docs on one task); every expression
    here stays inside whole-stage codegen. Bit-identical output: the votes
    are commutative +-1 sums over the same token multiset, and packing uses
    the same two's-complement power table (``test_simhash_native_matches_
    python_reference`` pins the values). The groupBy(id) exchange collapses
    to ~one 64-long row per document via map-side partial aggregation.
    Bit tests are bitwiseAND against power-of-two literals (same rationale
    as before: shift amounts must be literals).
    """
    toks = F.split(F.trim(F.lower(F.coalesce(F.col(text_col), F.lit("")))), "\\s+")
    exploded = df.select(F.col(id_col).alias("id"), F.explode(toks).alias("tok"))
    md5c = F.md5(F.col("tok"))
    proj = exploded.select(
        "id",
        F.conv(F.substring(md5c, 1, 8), 16, 10).cast("long").alias("hi"),
        F.conv(F.substring(md5c, 9, 8), 16, 10).cast("long").alias("lo"),
    )
    vote_aggs = []
    for b in range(64):
        src = F.col("lo") if b < 32 else F.col("hi")
        mask = _POW2_32[b] if b < 32 else _POW2_32[b - 32]
        vote = (
            F.when(src.bitwiseAND(F.lit(mask)) != 0, F.lit(1))
            .otherwise(F.lit(-1))
            .cast("long")
        )
        vote_aggs.append(F.sum(vote).alias(f"v{b}"))
    votes = proj.groupBy("id").agg(*vote_aggs)
    packed = F.lit(0).cast("long")
    for b in range(64):
        packed = packed + F.when(
            F.col(f"v{b}") > 0, F.lit(_POW2_64[b])
        ).otherwise(F.lit(0).cast("long"))
    return votes.select("id", packed.alias("simhash"))


def simhash_candidates(
    sim_df: DataFrame,
    bands: int = 8,
    band_bits: int = 8,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup candidate pairs with carried signatures:
    (id_a, id_b, sig_a, sig_b).

    Banding: ``bands`` DISJOINT ``band_bits``-bit slices of the signature
    (default 8x8). Pigeonhole guarantee: a pair within Hamming distance
    ``bands - 1`` (= 7 by default) shares at least one identical band, so
    candidate generation is COMPLETE for any verification threshold
    <= bands-1 — the round-1 4x16 "rotation" scheme only guaranteed <= 3
    while verification accepted <= 6, silently missing 4-6-bit pairs.

    Shape: explode band keys -> groupBy (band, key) -> in-bucket pair
    emission (groupBy + array ops, no self-join, no cache). Signatures ride
    along in the bucket structs, so verification needs no join-back.
    """
    mask = (1 << band_bits) - 1
    keyed = sim_df.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("band"),
                        F.shiftrightunsigned(F.col("simhash"), k * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for k in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "simhash", "bk.band", "bk.key")
    buckets = (
        keyed.groupBy("band", "key")
        .agg(
            F.array_sort(F.collect_list(F.struct("id", "simhash"))).alias("members")
        )
        .where(F.size("members") > 1)
    )
    if max_bucket_size is not None:
        buckets = buckets.where(F.size("members") <= max_bucket_size)
    n = F.size(F.col("members"))
    pairs = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), n - 1),
                    lambda i: F.transform(
                        F.slice(F.col("members"), i + 1, n),
                        lambda m: F.struct(
                            F.element_at(F.col("members"), i)["id"].alias("id_a"),
                            m["id"].alias("id_b"),
                            F.element_at(F.col("members"), i)["simhash"].alias("sig_a"),
                            m["simhash"].alias("sig_b"),
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.id_a", "p.id_b", "p.sig_a", "p.sig_b")
    return pairs.groupBy("id_a", "id_b").agg(
        F.max("sig_a").alias("sig_a"), F.max("sig_b").alias("sig_b")
    )


def simhash_neardup_pairs(
    sim_df: DataFrame,
    max_hamming: int = 6,
    bands: int = 8,
    band_bits: int = 8,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """(id_a, id_b, hamming) pairs within ``max_hamming``: banded candidates
    + exact bit_count verification. Complete (= equal to the exhaustive
    all-pairs answer) whenever ``max_hamming <= bands - 1`` and no bucket
    cap triggers."""
    if max_hamming > bands - 1:
        raise ValueError(
            f"banding guarantees Hamming <= {bands - 1}; raise bands for {max_hamming}"
        )
    cands = simhash_candidates(sim_df, bands, band_bits, max_bucket_size)
    return (
        cands.withColumn(
            "hamming", hamming64(F.col("sig_a"), F.col("sig_b")).cast("long")
        )
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two int64 simhashes (bit_count is JVM-side)."""
    return F.bit_count(a.bitwiseXOR(b))


def cross_doc_dup_spans(
    df: DataFrame, id_col: str, text_col: str, k: int = 8
) -> DataFrame:
    """Per-document cross-document duplicated-SPAN stats — substring-level
    dedup signal (Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better": duplicated substrings matter even when whole
    documents differ; public literature). Doc-level dedup (exact digest /
    minhash / simhash above) misses a boilerplate block shared by otherwise
    distinct files; this finds it at k-token granularity.

    A k-token shingle is DUPLICATED when it occurs in >= 2 DISTINCT
    documents (intra-doc repetition is deliberately out of scope — that is
    the Gopher repetition gate's signal, textstats.dup_word_frac). Adjacent
    duplicated shingle positions merge into maximal spans: positions p < p'
    join one span when ``p' - p <= k`` (shingle p covers tokens
    [p, p+k-1], so the gap rule makes merged spans exactly the maximal
    runs of tokens covered by duplicated shingles; merged spans are
    disjoint by construction). Returns one row per doc that HAS dup spans:
    ``(id_col, n_dup_spans, dup_tokens)`` with
    ``dup_tokens = sum over spans of (max_pos - min_pos + k)``.

    Scale shape (no all-pairs anywhere, nothing quadratic):
    posexplode -> groupBy(shingle) two-phase distinct-doc count (a shingle
    shared by millions of docs is ONE group; map-side partials bound the
    shuffle by distinct (shingle, doc) pairs) -> semi-join marks positions
    (probe-side rows pass through 1:1, so a viral shingle cannot explode
    the join) -> per-doc window + two rollups that REUSE the window's
    hash(doc) partitioning (Catalyst inserts no further exchange: grouping
    on (doc, span) is clustered by doc alone). The duplicated-set branch
    and the probe branch each re-read the shingle stream (two column-
    pruned scans — the same recompute-the-narrow-branch trade the split
    temporal operators document; caching the exploded corpus to avoid it
    would pin far more than the input). Shingles stay zipped-slice
    STRUCTS end-to-end (arrays_zip/slice are whole-stage-codegen; the
    transform()-lambda form is CodegenFallback — BENCH.md r5 lesson), and
    struct equality == joined-string equality after a whitespace split, so
    DuckDB oracles reproduce the grouping with string shingles.
    """
    from pyspark.sql import Window

    from mlops_drift_detection_spark.functions.textstats import (
        shingle_structs,
        tokens_array,
    )

    shs = df.select(
        F.col(id_col),
        F.posexplode(shingle_structs(tokens_array(F.col(text_col)), k)).alias(
            "__pos", "__sh"
        ),
    )
    dup = (
        shs.groupBy("__sh")
        .agg(F.count_distinct(F.col(id_col)).alias("__nd"))
        .where(F.col("__nd") >= 2)
        .select("__sh")
    )
    marked = shs.join(dup, "__sh").select(id_col, "__pos")
    w = Window.partitionBy(id_col).orderBy("__pos")
    prev = F.lag("__pos").over(w)
    new_span = F.when(
        prev.isNull() | (F.col("__pos") - prev > k), F.lit(1)
    ).otherwise(F.lit(0))
    running = Window.partitionBy(id_col).orderBy("__pos").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    spans = marked.withColumn("__span", F.sum(new_span).over(running))
    per_span = spans.groupBy(id_col, "__span").agg(
        (F.max("__pos") - F.min("__pos") + k).alias("__len")
    )
    return per_span.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sum("__len").alias("dup_tokens"),
    )
