"""Deduplication operators for large-scale training-data pipelines
(BASELINE.json north star; additive beyond the reference — SURVEY §7 step 11).

All variants are pure DataFrame plans (no Python UDFs in the hot path) and
deterministic via md5-derived hashing, so each has a DuckDB oracle.  Input
is a documents frame ``(doc_id, text)`` or the ``(doc, shingle)`` frame of
:func:`word_shingles`, checked at entry (:func:`require_documents`,
:func:`require_shingles`); the shape every caller uses is a module
constant, and each stage below is written once for the operators, the
queries and the streaming gate.

* exact: :func:`content_key` is the one content hash; one shuffle on it,
  canonical representative = min id (groupBy min, no window).
* shingle overlap (:func:`_shingle_overlap`, under both Jaccard and
  containment): explode → distinct → self-equi-join on shingle.  The
  classic skew killer is a stop-shingle appearing in millions of docs; the
  ``MAX_DF`` cap drops shingles above a document-frequency bound *before*
  the join (standard MinHash-pipeline practice), bounding join fan-out.
* MinHash-LSH: ``N_PERM`` salted minima (:func:`minhash_minima`) in
  ``N_BANDS`` bands; the band signature is a hash of the per-band minhash
  vector, so candidate generation is a groupBy on (band, signature) —
  shuffle keys are uniformly distributed by construction.
* SimHash: per-token hashes aggregated into per-bit sums — one groupBy per
  doc, fingerprint comparison is cheap bit arithmetic.
* spans: :func:`span_windows`, the ``SPAN_W``-token window hashes that
  span detection and span removal both read.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from ..caching import scoped_persist
from ..functions.determinism import hash60
from ..functions.text import ngram_strings, word_tokens
from ..sources.readers import spread_scan

SHINGLE_N = 3  # word n-gram width of every shingle
# 64 is far above the planted near-dup cluster sizes in the test corpus, so
# at test sf the results are unchanged — while on a real corpus this is the
# bound that keeps the join fan-out at O(MAX_DF · n_shingles) instead of
# O(df²) on viral boilerplate
MAX_DF = 64
JACCARD_MIN = 0.5
CONTAINMENT_MIN = 0.8
N_PERM = 12
N_BANDS = 4
# 4 bands × 8 bits of a 32-bit fingerprint: by pigeonhole every pair within
# Hamming ≤ 3 shares a band
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = 8
SIMHASH_MAX_HAMMING = 3
# docs average ~54 tokens; the published substring-dedup recipe uses
# 50-token windows on real documents
SPAN_W = 12
_CC_MAX_ROUNDS = 20


def _require(df: DataFrame, what: str, cols: tuple[str, ...]) -> DataFrame:
    names = df.schema.fieldNames()
    missing = [c for c in cols if c not in names]
    if missing:
        raise ValueError(f"{what} input lacks columns {missing}; it has {sorted(names)}")
    return df


def require_documents(df: DataFrame) -> DataFrame:
    """The documents contract: ``doc_id`` and ``text`` columns.  Raises
    ``ValueError`` before any job runs; returns ``df``."""
    return _require(df, "documents", ("doc_id", "text"))


def require_shingles(df: DataFrame) -> DataFrame:
    """The shingle contract: the ``(doc, shingle)`` frame of
    :func:`word_shingles`.  Raises ``ValueError`` before any job runs."""
    return _require(df, "shingle", ("doc", "shingle"))


def content_key(text: Column | str) -> Column:
    """Canonical content hash for exact dedup (md5 of raw text)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(c)


def exact_dedup_groups(df: DataFrame) -> DataFrame:
    """Exact dedup: one row per distinct content with the canonical (min) id
    and the duplicate count.  ``groupBy`` gets map-side combine; no window."""
    return (
        require_documents(df)
        .select(F.col("doc_id"), content_key("text").alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def word_shingles(df: DataFrame) -> DataFrame:
    """Distinct word ``SHINGLE_N``-gram shingles per document: (doc, shingle).

    Built from ``word_tokens`` + zipped shifted slices (``ngram_strings``) —
    JVM-side, no UDF: shingle i joins words[i .. i+n-1] for i in 0 .. len-n.
    The scan is spread first (``readers.spread_scan``) when it arrives in
    fewer partitions than half the cluster's slots.
    """
    df = spread_scan(require_documents(df))
    shingles = ngram_strings(word_tokens("text"), SHINGLE_N)
    # distinct-per-doc happens map-side (array_distinct before the explode):
    # (doc, shingle) uniqueness needs no shingle-level shuffle, unlike
    # explode + DISTINCT
    return df.select(
        F.col("doc_id").alias("doc"),
        F.explode(F.array_distinct(shingles)).alias("shingle"),
    )


def _shingle_overlap(shingles: DataFrame, eager: bool) -> DataFrame:
    """(doc_a, doc_b, inter, sz_a, sz_b) for every doc pair sharing a
    shingle, after the ``MAX_DF`` guard: self-join on shingle (doc_a <
    doc_b), intersection counts.  The sized frame is persisted (``eager``
    materializes it now) because both join sides read it.

    Per-doc size rides the shingle frame as a window count (one shuffle on
    doc, bounded partitions — a doc has at most |words| shingles), so the
    pair aggregate already carries sz_a/sz_b and the two join-backs against
    a sizes dimension disappear.  Measured at sf0.1 this halves the wall
    time of the join-back formulation."""
    guarded = _drop_heavy_shingles(require_shingles(shingles))
    sized = scoped_persist(
        guarded.withColumn("sz", F.count(F.lit(1)).over(W.partitionBy("doc"))),
        eager=eager,
    )
    a = sized.select(F.col("doc").alias("doc_a"), F.col("sz").alias("sz_a"), "shingle")
    b = sized.select(F.col("doc").alias("doc_b"), F.col("sz").alias("sz_b"), "shingle")
    return (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.first("sz_a").alias("sz_a"),
            F.first("sz_b").alias("sz_b"),
        )
    )


def jaccard_pairs(shingles: DataFrame) -> DataFrame:
    """N-gram Jaccard near-dup pairs from a distinct (doc, shingle) frame:
    jaccard = |∩| / (|a| + |b| − |∩|) ≥ ``JACCARD_MIN`` over the shingle
    overlap.

    The guarded+sized shingle frame is persisted eagerly before the
    self-join references it twice.  The measured plan economics at sf0.1:
    without it the whole scan→explode→anti-join subtree runs once per join
    side (~2× the work); with it the second side reads the cache.  At
    corpus scale this persist is the checkpoint you'd take before any
    self-join.
    """
    return (
        _shingle_overlap(shingles, eager=True)
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= JACCARD_MIN)
        .select("doc_a", "doc_b", "inter", "sz_a", "sz_b", "jaccard")
    )


def _drop_heavy_shingles(shingles: DataFrame) -> DataFrame:
    """The ``MAX_DF`` skew guard as an ANTI-join against the heavy-hitter set
    (shingles with document frequency > MAX_DF) rather than an inner join
    against the keep set.  The heavy set is small by construction — viral
    boilerplate shingles, at most |instances|/MAX_DF distinct values — so
    AQE turns the anti-join into a broadcast (map-side filter): the shingle
    frame itself is never shuffled to apply the guard.  The inner-join
    formulation costs a full shuffle of the shingle frame; measured at
    sf0.1 the anti-join is ~6× cheaper and is actually FASTER than no
    guard at all (the dropped heavy rows pay for the frequency scan)."""
    heavy = (
        shingles.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > MAX_DF)
        .select("shingle")
        # the heavy set is referenced by every consumer branch of the
        # guarded frame; without this persist each branch re-runs the full
        # frequency scan (measured 4x wall time at sf0.1).  Bounded size:
        # at most |shingle rows| / MAX_DF distinct values.  Scoped: the
        # harness releases it after the consuming action (caching.py).
    )
    heavy = scoped_persist(heavy)
    return shingles.join(heavy, "shingle", "left_anti")


def containment_pairs(shingles: DataFrame) -> DataFrame:
    """Containment near-dup pairs: |A∩B| / min(|A|,|B|) ≥
    ``CONTAINMENT_MIN`` — the short-doc-embedded-in-long-doc case symmetric
    Jaccard dilutes away.

    Unlike routing through a zero-threshold Jaccard (which materializes the
    *entire* co-shingle pair set before any filter), this plan is bounded
    end-to-end: ``MAX_DF`` caps per-shingle join fan-out BEFORE the
    self-join — on a boilerplate-heavy corpus the unbounded plan is the
    all-pairs blowup — and the containment feasibility bound
    ``inter ≥ ceil(CONTAINMENT_MIN · min(sz_a, sz_b))`` (equivalent to the final
    score filter, since containment = inter / min) is applied in the same
    stage as the intersection aggregate, so no unfiltered pair frame ever
    reaches a downstream exchange.  The sized frame's persist is lazy.
    """
    pairs = _shingle_overlap(shingles, eager=False)
    sz_min = F.least(F.col("sz_a"), F.col("sz_b"))
    return (
        pairs
        # feasibility bound == score filter, in integer form (no float yet):
        # keeps the pair frame pruned inside this stage
        .filter(F.col("inter") >= F.ceil(F.lit(CONTAINMENT_MIN) * sz_min))
        .withColumn("containment", F.col("inter").cast("double") / sz_min)
        .filter(F.col("containment") >= CONTAINMENT_MIN)
        .select("doc_a", "doc_b", "inter", "containment")
    )


def _perm_hash(p: int, shingle: Column) -> Column:
    """Permutation ``p``'s 60-bit hash of a shingle: md5 salted with
    ``"p:"``.  The batch minima and the streaming gate's array minima
    both hash through here."""
    return hash60(F.concat_ws(":", F.lit(p), shingle))


def minhash_minima(shingles: DataFrame) -> DataFrame:
    """One row per doc, ``(doc, m0 .. m{N_PERM-1})``: each permutation's
    minimum salted hash over the doc's shingles.

    All N_PERM minima ride ONE hash aggregation as side-by-side columns:
    each shingle row evaluates N_PERM salted hashes map-side and combines
    into per-doc partial minima, so the exchange carries |docs| rows of
    N_PERM bigints — NOT the N_PERM × |shingles| exploded rows of the
    row-per-permutation formulation (measured 12x less shuffle volume;
    identical minima, same oracle)."""
    return require_shingles(shingles).groupBy("doc").agg(
        *[F.min(_perm_hash(p, F.col("shingle"))).alias(f"m{p}") for p in range(N_PERM)]
    )


def minhash_signatures(shingles: DataFrame) -> DataFrame:
    """MinHash band signatures: (doc, band, signature).

    Each "permutation" p hashes shingles with a distinct salt; the minimum per
    (doc, p) is the signature component.  Bands of ``N_PERM / N_BANDS`` rows
    are collapsed to one md5 signature string, so LSH candidate generation is
    a single groupBy on (band, signature).
    """
    return _band_signatures(minhash_minima(shingles))


def _band_signatures(mins: DataFrame) -> DataFrame:
    """(doc, band, signature) from one row per doc holding the permutation
    minima ``m0 .. m{N_PERM-1}``: band b's signature is
    md5("p:min_p|p:min_p|...") over its ``N_PERM / N_BANDS`` permutations,
    p ascending.  The batch operator and the streaming gate's map-only
    banding (streaming/near_dup_gate.stream_minhash_bands) both end here,
    so their buckets are the same bytes."""
    rows_per_band = N_PERM // N_BANDS
    bands = F.array(
        *[
            F.struct(
                F.lit(b).cast("int").alias("band"),
                F.md5(
                    F.concat_ws(
                        "|",
                        *[
                            F.concat_ws(":", F.lit(p), F.col(f"m{p}"))
                            for p in range(
                                b * rows_per_band, (b + 1) * rows_per_band
                            )
                        ],
                    )
                ).alias("signature"),
            )
            for b in range(N_BANDS)
        ]
    )
    return (
        mins.select("doc", F.explode(bands).alias("bs"))
        .select("doc", F.col("bs.band").alias("band"), F.col("bs.signature").alias("signature"))
    )


def lsh_candidate_pairs(signatures: DataFrame) -> DataFrame:
    """Docs sharing any band signature: (doc_a, doc_b, n_shared_bands).

    Grouped-bucket formulation (r14): collect each (band, signature)
    bucket's sorted doc list in ONE groupBy and emit the in-bucket pairs
    with array expressions, instead of self-joining the signature frame.
    The self-join evaluated the upstream signature pipeline (the
    12-permutation md5 min-aggregation) once per side — two identical
    ~20 s-of-executor-time aggregation instances at sf0.1 — and paid a
    two-sided join exchange; the grouped form computes signatures once and
    shuffles them once.

    Hot-bucket skew (r15): pairs are expanded in TWO generator stages —
    posexplode the bucket's doc list into (position, doc_a) ROWS, then
    explode each row's remaining-docs slice — so a bucket of k docs only
    ever holds O(k) per row (the doc list itself), and the O(k²) pair set
    streams as rows through codegen and spills like any other row stream.
    The r14 single-stage form built the entire flatten/transform pair array
    inside ONE row before the explode, which hits the 2 GB single-value /
    array-element limits and per-task memory on a degenerate bucket
    (millions of near-empty or boilerplate docs sharing a band signature).
    A truly adversarial corpus can still make the collect_list row itself
    large (O(k) strings); that is the same bound the verify join downstream
    pays per doc, and callers with such corpora should pre-guard buckets
    the way the Jaccard pipeline's max_df drops heavy shingles.
    """
    buckets = signatures.groupBy("band", "signature").agg(
        F.sort_array(F.collect_list("doc")).alias("docs")
    )
    return (
        buckets.filter(F.size("docs") >= 2)
        .select(F.posexplode("docs").alias("i", "doc_a"), "docs")
        .select(
            "doc_a",
            F.explode(
                F.slice("docs", F.col("i") + F.lit(2), F.size("docs"))
            ).alias("doc_b"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def simhash(df: DataFrame, bits: int = 16) -> DataFrame:
    """SimHash fingerprints: per-token 60-bit hashes, per-bit signed sums,
    sign → bit.  (doc, simhash).

    Plan note: the explode + ``bits``-column hash-agg form deliberately
    beats the tempting map-only variant (one ``aggregate`` fold per bit
    over the row's hashed-token array): per-bit folds re-traverse the array
    ``bits`` times through INTERPRETED higher-order lambdas, while the
    exploded sums run inside whole-stage codegen with map-side partial
    aggregation — measured ~4× faster at bits=32, sf0.1.  The shuffle
    ships ``bits`` longs per doc, not tokens."""
    tokens = require_documents(df).select(
        F.col("doc_id").alias("doc"), F.explode(word_tokens("text")).alias("tok")
    ).withColumn("h", hash60(F.concat_ws(":", F.col("tok"))))  # one-part key: md5(tok)
    bit_sums = tokens.groupBy("doc").agg(
        *[
            F.sum(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"b{b}")
            for b in range(bits)
        ]
    )
    fp = None
    for b in range(bits):
        term = F.when(F.col(f"b{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return bit_sums.select("doc", fp.cast("bigint").alias("simhash"))


def simhash_near_dup(sigs: DataFrame) -> DataFrame:
    """SimHash → banded candidates → Hamming verify over the ``(doc,
    simhash)`` frame of :func:`simhash`: (doc_a, doc_b, hamming) for pairs
    sharing at least one of ``SIMHASH_BANDS`` ``SIMHASH_BAND_BITS``-bit
    bands whose fingerprints differ in at most ``SIMHASH_MAX_HAMMING``
    bits — the SimHash twin of MinHash→LSH→Jaccard-verify.

    Candidates come from an equi-join on (band, band_sig) — by pigeonhole a
    pair within Hamming distance < SIMHASH_BANDS MUST agree on some band,
    so the banding has no false negatives at the pinned shape while cutting
    the pair space from all-pairs to per-bucket.  The verify step is two
    integer ops per pair (xor + popcount).

    The signature frame is persisted before banding: both sides of the
    bucket self-join reference it, and without the cache each side re-runs
    the full fingerprint pipeline (token explode + ``bits``-column agg) —
    the dominant cost.  Doc-level (id, fingerprint) rows are tiny relative
    to the corpus, so the cache is bounded."""
    sigs = scoped_persist(_require(sigs, "simhash", ("doc", "simhash")))
    mask = (1 << SIMHASH_BAND_BITS) - 1
    banded = sigs.select(
        "doc",
        F.col("simhash").alias("sig"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), b * SIMHASH_BAND_BITS)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_sig"),
                    )
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("bs"),
    ).select("doc", "sig", F.col("bs.band").alias("band"), F.col("bs.band_sig").alias("band_sig"))
    a = banded.select(
        F.col("doc").alias("doc_a"), F.col("sig").alias("sig_a"), "band", "band_sig"
    )
    b = banded.select(
        F.col("doc").alias("doc_b"), F.col("sig").alias("sig_b"), "band", "band_sig"
    )
    cand = (
        a.join(b, ["band", "band_sig"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sig_a", "sig_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("int")
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .select("doc_a", "doc_b", "hamming")
    )


def connected_components(
    pairs: DataFrame, a_col: str = "doc_a", b_col: str = "doc_b"
) -> DataFrame:
    """Duplicate-cluster formation: connected components over an undirected
    pair graph, as ``(doc, cluster_id)`` with cluster_id = min doc id in the
    component — the step that turns near-dup PAIRS into dedup GROUPS.

    Iterative min-label propagation with pointer jumping: each round every
    node adopts the smallest label among itself and its neighbors (one hop),
    then follows its label's label (path halving) — the doubling step that
    turns O(diameter) convergence into O(log n) rounds, the property that
    makes edge-list CC tractable on long-chain components at corpus scale.
    Converged when no label changes; raises if ``_CC_MAX_ROUNDS`` rounds
    pass first (an
    unconverged labeling silently merges nothing — fail loudly instead).
    Each round's labels are ``localCheckpoint``-ed: the round references the
    label frame several times (neighbor join, pointer self-join, change
    count), so without cutting lineage the logical plan grows ~4× per round
    — persist alone caches data but keeps the exponential plan.  (On a
    cluster, executor loss invalidates local checkpoints — swap for
    ``checkpoint()`` with a checkpoint dir in fault-sensitive jobs.)
    """
    # materialize the pair list before fanning it into both union branches:
    # the upstream pair computation (e.g. a full Jaccard join) would
    # otherwise run once per branch
    pairs = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst")).persist()
    pairs.count()
    # Cache the edge list PRE-PARTITIONED on dst — the key every round's
    # neighbor join probes — so the per-round join shuffles only the (tiny,
    # changing) label frame; the cached edge side's hash partitioning is
    # reused round after round (one Exchange per round instead of two).
    # The former `.distinct()` is dropped: callers emit unique undirected
    # pairs (every producer ends in a pair-keyed aggregate or distinct), and
    # even if a duplicate slipped through, min-label propagation is
    # idempotent — duplicates cost rows, never correctness — while the
    # distinct cost a full extra shuffle+dedup of the edge list every run.
    n_part = pairs.sparkSession.conf.get("spark.sql.shuffle.partitions")
    edges = (
        pairs.union(pairs.select(F.col("dst"), F.col("src")))
        .repartition(int(n_part), "dst")
        .persist()
    )
    # fused round 0: with labels initialized to node ids, a neighbor's label
    # IS the neighbor — so the first min-label hop is a plain groupBy over
    # the edge list, no label join (saves one full join+checkpoint round)
    # LAZY local checkpoint (r15, guide §2.6/§1): an eager checkpoint is its
    # own job, and the convergence probe right after it is another — at the
    # battery's ~0.1–0.2 s per-job floor the probe doubled every round's
    # latency for a scan of already-cached labels.  localCheckpoint rides
    # the caching layer (partitions are stored as the FIRST action computes
    # them, no re-run), so letting the sum/diff probe be that first action
    # folds materialization + convergence check into ONE job per round.
    # The fused round-0 action below also populates the `edges` persist (it
    # scans edges), so the former explicit edges.count() job is gone too.
    labels = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.min("dst").alias("nbr0"))
        .select("node", F.least(F.col("node"), F.col("nbr0")).alias("label"))
        .localCheckpoint(eager=False)
    )
    converged = False
    # labels only ever decrease, so for NUMERIC ids the labeling is stable
    # iff sum(label) is unchanged — a one-column agg over the cached frame.
    # String ids (e.g. entity names) have no sum: fall back to an exact
    # per-node diff join between rounds (both frames are checkpointed, so
    # the extra join is over cached data).
    from pyspark.sql.types import NumericType

    numeric_ids = isinstance(labels.schema["label"].dataType, NumericType)

    def _stable(new_l: DataFrame, old_l: DataFrame) -> bool:
        return (
            new_l.alias("n")
            .join(old_l.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
            == 0
        )

    prev_sum = (
        labels.agg(F.sum("label")).collect()[0][0] if numeric_ids else None
    )
    for _ in range(_CC_MAX_ROUNDS):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        hop = labels.join(neighbor_min, labels.node == neighbor_min.src, "left").select(
            "node",
            F.least(
                F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
            ).alias("label"),
        )
        # pointer jump: labels are always node ids, so follow label -> its
        # label (path halving); this is what bounds rounds by O(log n)
        ptr = hop.select(F.col("node").alias("p_node"), F.col("label").alias("p_label"))
        new_labels = (
            hop.join(ptr, hop.label == ptr.p_node, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("p_label"), F.col("label"))
                ).alias("label"),
            )
            # lazy: the convergence probe below is the materializing action
            # (one job per round, not checkpoint-job + probe-job)
            .localCheckpoint(eager=False)
        )
        if numeric_ids:
            new_sum = new_labels.agg(F.sum("label")).collect()[0][0]
            stable = new_sum == prev_sum
            prev_sum = new_sum
        else:
            stable = _stable(new_labels, labels)
        labels = new_labels
        if stable:
            converged = True
            break
    edges.unpersist()
    pairs.unpersist()
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {_CC_MAX_ROUNDS} rounds"
        )
    return labels.select(F.col("node").alias("doc"), F.col("label").alias("cluster_id"))


def span_tokens(df: DataFrame) -> DataFrame:
    """``(doc, w)``: each document's token array, the scan spread first —
    a single-file scan is ONE input partition, so the window-hash stream
    (explode + per-position md5 over the slice) otherwise runs on one core,
    once per plan branch that reads it."""
    return spread_scan(require_documents(df)).select(
        F.col("doc_id").alias("doc"), word_tokens("text").alias("w")
    )


def span_windows(tokens: DataFrame, w: int = SPAN_W) -> DataFrame:
    """``(doc, pos, h)`` over a :func:`span_tokens` frame: one row per
    ``w``-token window of every doc with at least ``w`` tokens, ``pos``
    1-based, ``h`` the md5 of the window's space-joined tokens."""
    return (
        tokens.filter(F.size("w") >= w)
        .select(
            "doc",
            F.explode(F.sequence(F.lit(1), F.size("w") - w + 1)).alias("pos"),
            "w",
        )
        .select(
            "doc",
            "pos",
            F.md5(F.concat_ws(" ", F.slice("w", F.col("pos"), w))).alias("h"),
        )
    )


def duplicate_spans(df: DataFrame, w: int = SPAN_W) -> DataFrame:
    """Substring-level duplicate spans: maximal runs of consecutive token
    positions whose ``w``-token windows each occur in ≥ 2 documents (the
    distributed re-expression of suffix-array training-data dedup —
    window-hash → document-frequency filter → gaps-and-islands).

    Returns (doc, span_start, span_end, n_windows) with 1-based token
    positions; span_end = last covered token.  Every shuffle is keyed by
    either the 128-bit window hash (uniform by construction) or the doc id
    (island merge, bounded by doc length) — no global window, no UDF.
    """
    # the window stream runs once per plan branch (the df-filter build side
    # and the semi-join probe both read it)
    wins = span_windows(span_tokens(df), w)
    dup = (
        wins.select("h", "doc")
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= 2)
        .select("h")
    )
    hits = wins.join(dup, "h", "left_semi").select("doc", "pos")
    grp = F.col("pos") - F.row_number().over(
        W.partitionBy("doc").orderBy("pos")
    )
    return (
        hits.withColumn("grp", grp)
        .groupBy("doc", "grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + w - 1).alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .drop("grp")
    )


def ppjoin_pairs(elements: DataFrame, t_num: int = 1, t_den: int = 2) -> DataFrame:
    """All-pairs set-similarity self-join with PREFIX + POSITIONAL
    FILTERING (AllPairs, Bayardo et al. WWW'07; the positional filter is
    the "PP" of PPJoin, Xiao et al. WWW'08/TODS'11) over a (doc, shingle)
    frame — the same input as :func:`jaccard_pairs`: every unordered
    document pair whose shingle-set Jaccard ≥ t_num/t_den, found WITHOUT an
    all-pairs comparison and WITHOUT the LOSSY ``MAX_DF`` heavy-hitter drop.
    Input rows are ``.distinct()``-ed up front, so duplicate (doc, shingle)
    rows cannot corrupt the df counts, prefix-length math, or the
    array_intersect verification (the set semantics are a hard contract,
    now enforced rather than documented).

    The losslessness argument (property-tested against brute force in
    tests/test_ppjoin_properties.py): order every document's elements by
    the global total order (document frequency asc, element asc).  If
    J(a,b) ≥ t the pair shares ≥ ceil(t·max(|a|,|b|)) elements, so each
    side must contain a shared element among its first
    |x| − ceil(t·|x|) + 1 elements — the PREFIX.  Candidates are exactly
    the pairs meeting in the prefix-element inverted index; everything
    else is pruned with zero false negatives.  The length filter
    (t·|a| ≤ |b| ≤ |a|/t, as integer cross-multiplications) prunes further
    inside the join.

    POSITIONAL filter (lossless, prunes before the distinct): for a pair
    meeting at an element at (1-indexed) positions (p_a, p_b) of the two
    docs' global-order element lists, the overlap at or before that
    element and the overlap after it are each bounded, giving
    |∩| ≤ min(p_a, p_b) + min(|a| − p_a, |b| − p_b); at the pair's FIRST
    meeting element the first term is exactly 1 (any shared element
    earlier in the global order would itself be a prefix element of both
    docs and would have met first), so a row with
    1 + min(|a| − p_a, |b| − p_b) < α, where α = ceil(t·(|a|+|b|)/(1+t))
    is the minimum overlap Jaccard ≥ t requires, can be dropped: a
    qualifying pair always survives through its first meeting element,
    while non-first rows of qualifying pairs are redundant for the
    downstream ``distinct``.  Typically prunes 2–5× of the candidate set
    before the (dominant) verification join.

    Thresholds are RATIONAL (t_num/t_den) so every predicate is integer
    arithmetic: prefix length uses ceil(t·sz) = (t_num·sz + t_den − 1) DIV
    t_den, the positional test is (t_num+t_den)·ub ≥ t_num·(sz_a+sz_b),
    and the final test is t_den·|∩| ≥ t_num·|∪| — bit-identical in any
    engine.

    Scale shape (100 TB): element df is one hash agg; per-doc ranks are a
    doc-partitioned window (bounded partitions — a doc has |elements|
    rows); the candidate join is an equi-join on PREFIX elements only — by
    construction the globally RAREST elements of each document — so
    inverted-index skew is structurally bounded (a frequent element enters
    a prefix only for documents where nothing rarer exists); the
    positional filter cuts candidates row-locally inside that join, before
    the distinct shuffle; verification joins the distinct candidate set
    back to per-doc element arrays and evaluates one array_intersect per
    pair, O(|a|+|b|).
    """
    # persist (eager): the distinct element frame feeds THREE branches —
    # the df table, the ranked join-back, and the verification arrays —
    # which AQE materializes concurrently on a cold run; unpersisted, each
    # re-ran the upstream scan+explode+distinct
    toks = scoped_persist(
        require_shingles(elements)
        .select("doc", F.col("shingle").alias("tok"))
        .distinct(),
        eager=True,
    )
    dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    ranked = (
        toks.join(dfreq, "tok")
        .withColumn(
            "pos", F.row_number().over(W.partitionBy("doc").orderBy("df", "tok"))
        )
        .withColumn("sz", F.count(F.lit(1)).over(W.partitionBy("doc")))
    )
    prefix = scoped_persist(
        ranked.filter(
            F.col("pos")
            <= F.col("sz")
            - F.expr(f"CAST(({t_num}*sz + {t_den} - 1) DIV {t_den} AS BIGINT)")
            + 1
        ).select("doc", "tok", "pos", "sz"),
        eager=True,  # both inverted-index sides read it concurrently
    )
    a = prefix.select(
        F.col("doc").alias("doc_a"),
        "tok",
        F.col("pos").alias("pos_a"),
        F.col("sz").alias("sz_a"),
    )
    b = prefix.select(
        F.col("doc").alias("doc_b"),
        "tok",
        F.col("pos").alias("pos_b"),
        F.col("sz").alias("sz_b"),
    )
    # positional overlap upper bound at this meeting element (see
    # docstring): exact for the pair's first meeting element, where the
    # at-or-before term is 1
    ubound = F.lit(1) + F.least(
        F.col("sz_a") - F.col("pos_a"), F.col("sz_b") - F.col("pos_b")
    )
    cand = (
        a.join(b, "tok")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.lit(t_num) * F.col("sz_a") <= F.lit(t_den) * F.col("sz_b"))
            & (F.lit(t_num) * F.col("sz_b") <= F.lit(t_den) * F.col("sz_a"))
            & (
                F.lit(t_num + t_den) * ubound
                >= F.lit(t_num) * (F.col("sz_a") + F.col("sz_b"))
            )
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    arrs = toks.groupBy("doc").agg(F.collect_list("tok").alias("ta"))
    n_int = F.size(F.array_intersect(F.col("ta"), F.col("tb")))
    n_union = F.size(F.col("ta")) + F.size(F.col("tb")) - n_int
    return (
        cand.join(arrs.select(F.col("doc").alias("doc_a"), "ta"), "doc_a")
        .join(
            arrs.select(F.col("doc").alias("doc_b"), F.col("ta").alias("tb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            n_int.alias("n_int"),
            n_union.alias("n_union"),
        )
        .filter(F.lit(t_den) * F.col("n_int") >= F.lit(t_num) * F.col("n_union"))
        .withColumn(
            "jaccard", F.col("n_int") * F.lit(1.0) / F.col("n_union")
        )
    )
