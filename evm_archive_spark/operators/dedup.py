"""Deduplication operators for large-scale text corpora (north-star
extension; SURVEY §7 Stage 6).

All of these are shuffle-conscious compositions of built-in DataFrame ops:

- exact:    hash-groupBy on content digest (one shuffle on the digest).
- minhash:  shingle -> per-permutation min-hash -> banded LSH buckets ->
            candidate pairs by bucket equi-join -> exact-Jaccard verify.
- simhash:  64-bit sign-aggregated token-hash fingerprint; near-dups =
            small Hamming distance (bit_count(a XOR b)).
- ngram:    exact n-gram Jaccard for a blocked pair set.

Everything is native Column expressions (xxhash64, transform/aggregate
higher-order functions) — deterministic, no Python in the row path, and
codegen-friendly; at 100 TB the dominant cost is the bucket-join shuffle,
which is the minimum any LSH scheme pays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------

def exact_dedup(df: DataFrame, cols: list[str]) -> DataFrame:
    """Keep one row per distinct ``cols`` tuple (hash-shuffle dedup)."""
    return df.dropDuplicates(cols)


def exact_dedup_by_content(
    df: DataFrame, id_col: str, content_col: str
) -> DataFrame:
    """Keep the lowest-id row per exact content digest (``id_col`` must be
    unique).

    Not a row_number window over the digest: a virally-duplicated payload
    would put every copy — full rows, text included — into ONE window
    partition's sort.  Instead min(id) per digest partial-aggregates on
    (digest, id) only, and the join back is on the DISTINCT (digest, id)
    pair — no hot key exists by construction (same discipline as
    line_dedup / ADVICE r2).

    NULL content hashes as the empty string (the cross_doc_span_dedup
    convention): md5(NULL) is NULL and a semi-join never matches NULL
    keys, which silently DROPPED every NULL-content row (review
    r12)."""
    h = F.md5(F.coalesce(F.col(content_col), F.lit("")))
    with_h = df.withColumn("__h", h)
    winners = (
        with_h.select("__h", F.col(id_col))
        .groupBy("__h")
        .agg(F.min(id_col).alias(id_col))
    )
    return with_h.join(winners, ["__h", id_col], "semi").drop("__h")


# --------------------------------------------------------------------------
# shingling + MinHash + LSH
# --------------------------------------------------------------------------

def shingles(col, k: int = 5) -> F.Column:
    """Distinct character k-shingles of a string column (JVM-side)."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.greatest(F.length(c) - (k - 1), F.lit(1))
    return F.array_distinct(
        F.transform(F.sequence(F.lit(1), n), lambda i: F.substring(c, i, k))
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 32,
    k: int = 5,
    seed: int = 42,
) -> DataFrame:
    """(__id, __sig) MinHash signatures via explode + min-aggregate.

    Each shingle's expensive string hash happens ONCE; the ``num_perm``
    permutations are cheap long re-hashes aggregated with per-permutation
    MIN.  Hash aggregation gets map-side partial combine, so the shuffle
    carries one ``num_perm``-long row per document per input partition —
    the scale-correct shape (and ~40x less expression re-evaluation than
    the single-Column form at num_perm=40).
    """
    ex = df.select(
        F.col(id_col).alias("__id"),
        F.explode(shingles(text_col, k)).alias("__s"),
    )
    bh = ex.select("__id", F.xxhash64("__s", F.lit(seed)).alias("__h"))
    aggs = [
        F.min(F.xxhash64(F.col("__h"), F.lit(seed + j))).alias(f"__m{j}")
        for j in range(num_perm)
    ]
    return (
        bh.groupBy("__id")
        .agg(*aggs)
        .select(
            "__id",
            F.array(*[F.col(f"__m{j}") for j in range(num_perm)]).alias("__sig"),
        )
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 32,
    bands: int = 8,
    k: int = 5,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded LSH.

    rows/band = num_perm/bands; a pair collides if any band's sub-signature
    matches exactly.  Plan: explode to (band, band_hash) — one row per
    (doc, band) — then self-join on (band, band_hash).  The join is the
    only shuffle; dupes across bands are collapsed with dropDuplicates.
    """
    if bands < 1 or num_perm % bands:
        raise ValueError(
            f"bands={bands} must divide num_perm={num_perm} (a "
            "non-divisor silently discards the signature tail; "
            "bands > num_perm degenerates every band to a constant)")
    rows_per_band = num_perm // bands
    sig = minhash_signatures(df, id_col, text_col, num_perm, k)
    banded = sig.select(
        "__id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[
                                F.element_at(F.col("__sig"), b * rows_per_band + r + 1)
                                for r in range(rows_per_band)
                            ]
                        ).alias("bhash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("__id", "bb.band", "bb.bhash")
    a, c = banded.alias("a"), banded.alias("c")
    return (
        a.join(
            c,
            (F.col("a.band") == F.col("c.band"))
            & (F.col("a.bhash") == F.col("c.bhash"))
            & (F.col("a.__id") < F.col("c.__id")),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("c.__id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )


def jaccard(col_a, col_b) -> F.Column:
    """Exact Jaccard similarity of two array columns (as double)."""
    inter = F.size(F.array_intersect(col_a, col_b))
    union = F.size(F.array_union(col_a, col_b))
    return F.when(union == 0, F.lit(1.0)).otherwise(
        inter.cast("double") / union.cast("double")
    )


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_perm: int = 32,
    bands: int = 8,
    k: int = 5,
    sort: bool = True,
) -> DataFrame:
    """LSH candidates + exact-Jaccard verification >= threshold.

    The verify joins the (small) candidate set back to the shingle sets —
    candidates, not the corpus, bound the quadratic term.

    ``sort=False`` (r14) skips the presentational global orderBy for
    composed consumers (components, split assignment) that feed the
    pairs straight into a union/distinct/join: the sort's range
    exchange SAMPLES its child, re-running the verify join a second
    time per action, and the order is discarded one operator later.
    The pair SET is identical either way.
    """
    cands = minhash_lsh_candidates(df, id_col, text_col, num_perm, bands, k)
    sh = df.select(
        F.col(id_col).alias("__sid"), shingles(text_col, k).alias("__sh")
    )
    sized = (
        cands.join(sh.withColumnRenamed("__sid", "id_a").withColumnRenamed("__sh", "__sh_a"), "id_a")
        .join(sh.withColumnRenamed("__sid", "id_b").withColumnRenamed("__sh", "__sh_b"), "id_b")
        # J >= t implies |A|/|B| within [t, 1/t]: prune on the cheap size
        # ratio BEFORE the expensive array_intersect/union evaluate —
        # result-preserving (same trick as the exact ngram path)
        .filter(
            F.least(F.size("__sh_a"), F.size("__sh_b")).cast("double")
            / F.greatest(F.size("__sh_a"), F.size("__sh_b"))
            >= F.lit(threshold)
        )
    )
    out = sized.select(
        "id_a",
        "id_b",
        jaccard(F.col("__sh_a"), F.col("__sh_b")).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)
    return out.orderBy("id_a", "id_b") if sort else out


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def simhash(col, seed: int = 42, n_bits: int = 64, hash_fn=None,
            token_split: str = " +") -> F.Column:
    r"""SimHash over space-delimited tokens (Charikar '02), ``n_bits``
    wide.

    bit j of the fingerprint = sign of sum over tokens of (+1 if bit j of
    hash(token) else -1).  Entirely JVM-side: one fold producing a
    per-bit count, then a fold packing the sign bits.  ``hash_fn``
    (Column -> Column) defaults to salted xxhash64; the parity gate
    passes an md5-derived hash both engines can compute so the identical
    construction is checkable against DuckDB (q_simhash_md5).

    ``token_split`` defaults to the gate convention of SPACE runs
    (mirrored in the DuckDB oracles); multi-line corpora fuse
    newline-joined tokens under it — pass ``r"\s+"`` for true
    whitespace tokenization (review r12 note)."""
    c = F.col(col) if isinstance(col, str) else col
    tokens = F.split(F.trim(c), token_split)
    if hash_fn is None:
        hash_fn = lambda t: F.xxhash64(t, F.lit(seed))  # noqa: E731
    hashes = F.transform(tokens, hash_fn)
    # ONE fold over the token hashes carrying all n_bits counters (an
    # n_bits-wide accumulator array) — the earlier per-bit formulation ran
    # one fold per bit and so recomputed every token hash n_bits times.
    # Bit tests go through a mask Literal (element-wise &), signed bit 63
    # encoded as long min.
    masks = F.lit(
        [(1 << j) if j < 63 else -(2**63) for j in range(n_bits)]
    ).cast("array<bigint>")
    counts = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), n_bits),
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda a, m: a
            + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
        ),
    )
    return F.aggregate(
        F.zip_with(
            counts,
            masks,
            lambda cnt, m: F.when(cnt > 0, m).otherwise(
                F.lit(0).cast("long")
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc.bitwiseOR(v),
    )


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.

    Blocking: ``max_hamming + 1`` disjoint bit chunks of the 64-bit
    fingerprint — by pigeonhole, any pair within ``max_hamming``
    differing bits shares at least one exact chunk, so the self-join on
    (chunk_idx, chunk_value) finds ALL of them without an O(n^2)
    comparison (standard simhash sharding trick).  Deriving the chunk
    count from the threshold (the ``multimodal._ahash_bands`` rule,
    ADVICE r6) keeps the blocking complete for every ``max_hamming``;
    the previous fixed 4x16 split silently lost pairs at
    ``max_hamming >= 4``.  The default (3) still blocks 4 x 16-bit.
    """
    nb = max_hamming + 1
    if nb > 64:
        raise ValueError("max_hamming must be < 64")
    width = 64 // nb
    chunk_exprs = []
    for i in range(nb):
        lo = i * width
        w = width if i < nb - 1 else 64 - lo  # last chunk takes the tail
        if w >= 64:
            # max_hamming=0: the chunk IS the whole fingerprint — a
            # 64-bit mask literal would overflow long
            expr = f"shiftrightunsigned(__fp, {lo})"
        else:
            expr = f"shiftrightunsigned(__fp, {lo}) & {(1 << w) - 1}"
        chunk_exprs.append(
            F.struct(F.lit(i).alias("ci"), F.expr(expr).alias("cv"))
        )
    fp = df.select(F.col(id_col).alias("__id"), simhash(text_col, seed).alias("__fp"))
    chunks = fp.select(
        "__id",
        "__fp",
        F.explode(F.array(*chunk_exprs)).alias("ch"),
    ).select("__id", "__fp", "ch.ci", "ch.cv")
    a, b = chunks.alias("a"), chunks.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.ci") == F.col("b.ci"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.bit_count(
                F.col("a.__fp").bitwiseXOR(F.col("b.__fp"))
            ).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return pairs.filter(F.col("hamming") <= max_hamming).orderBy("id_a", "id_b")


# --------------------------------------------------------------------------
# exact n-gram Jaccard over a blocked pair set
# --------------------------------------------------------------------------

def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Cluster near-duplicate *pairs* into dedup groups: connected
    components by iterative min-label propagation.

    The pair detectors (minhash/simhash/LSH/ngram) emit edges; choosing one
    survivor per *transitive* group needs components, not pairs.  Each
    iteration is: label(v) = min(label(v), min over neighbors) — two
    keyed shuffles per round on the edge list, converging in O(component
    diameter) rounds (near-dup clusters are shallow; 20 covers pathological
    chains).  Driver only checks the convergence counter — labels never
    leave the cluster.

    Returns (node, component) where component = min node id reachable.
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("component").alias("nmin"))
        )
        stepped = labels.join(
            neighbor_min, labels.node == neighbor_min.src, "left"
        ).select(
            "node",
            F.col("component").alias("prev"),
            F.least(
                F.col("component"), F.coalesce(F.col("nmin"), F.col("component"))
            ).alias("component"),
        )
        # pointer jump: label(v) <- label(label(v)) — halves label-chain
        # lengths so convergence is O(log diameter) rounds, not O(diameter)
        parent = stepped.select(
            F.col("node").alias("pnode"), F.col("component").alias("pcomp")
        )
        # carry the pre-step label through as ``prev`` so convergence is a
        # scan of THIS checkpointed frame — the old shape re-joined new
        # labels against old (a keyed shuffle per iteration) only to ask
        # "did anything move?"
        new_labels = (
            stepped.join(parent, stepped.component == parent.pnode, "left")
            .select(
                "node",
                "prev",
                F.least(
                    F.col("component"), F.coalesce(F.col("pcomp"), F.col("component"))
                ).alias("component"),
            )
            .localCheckpoint(eager=True)
        )
        changed = not (
            new_labels.filter(F.col("component") != F.col("prev")).isEmpty()
        )
        labels = new_labels.select("node", "component")
        if not changed:
            break
    return labels.orderBy("node")


def dedup_survivors(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Drop every non-minimal member of each near-duplicate component;
    rows not in any pair survive untouched.

    No broadcast hint on the loser set: in dedup-heavy corpora losers can
    be 30-50% of all rows, and a forced broadcast anti-join OOMs the
    executors at scale.  A shuffle anti-join on the id is one exchange;
    AQE still converts it to broadcast at runtime when the set is small.
    """
    comp = connected_components(pairs, id_a, id_b)
    losers = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def near_duplicate_pipeline(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.9,
    num_perm: int = 64,
    bands: int = 16,
    k: int = 5,
) -> DataFrame:
    """The documented 100-TB dedup path, composed end-to-end:

    banded-LSH prefilter -> exact-Jaccard verify on candidates only ->
    connected components -> one survivor (min id) per component.

    Exact blocked-pair Jaccard (``ngram_jaccard_pairs``) is quadratic in
    the block size; this replaces the quadratic term with the LSH bucket
    join, verifying only colliding pairs.  Defaults are tuned for
    deterministic recall at high thresholds: 16 bands x 4 rows means a
    J>=0.9 pair escapes all bands with p = (1-J^4)^16 ~ 4e-8, so the
    result equals the exact all-pairs computation in practice while doing
    ~|candidates| << n^2/2 verifications.
    """
    pairs = minhash_near_duplicates(
        df, id_col, text_col, threshold, num_perm, bands, k,
        # sort=False: the pairs feed connected_components' union/
        # distinct — the global sort would be discarded and its range
        # sampling would re-run the verify join (r14)
        sort=False,
    )
    return dedup_survivors(df, pairs, id_col=id_col)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str | None = None,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact character-n-gram Jaccard for pairs within a blocking key
    (all-pairs when block_col is None — quadratic, small inputs only)."""
    g = df.select(
        F.col(id_col).alias("__id"),
        *( [F.col(block_col).alias("__blk")] if block_col else [] ),
        shingles(text_col, n).alias("__g"),
    )
    # the all-pairs (block_col=None) path is only valid at gate-bounded
    # sizes (the LSH prefilter is the scale path), so pin its nested-loop
    # build side explicitly — the planner must never fall back to an
    # unbroadcast cartesian (a Python-local right side re-evaluates per
    # task otherwise).  The BLOCKED path stays a partitioned equi-join on
    # the block key: forcing broadcast there would ship the full shingle
    # table to every executor on exactly the large inputs blocking exists
    # for.
    gb = g if block_col else F.broadcast(g)
    a, b = g.alias("a"), gb.alias("b")
    cond = F.col("a.__id") < F.col("b.__id")
    if block_col:
        cond = cond & (F.col("a.__blk") == F.col("b.__blk"))
    return (
        a.join(b, cond)
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            jaccard(F.col("a.__g"), F.col("b.__g")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
        .orderBy("id_a", "id_b")
    )


# --------------------------------------------------------------------------
# line-level dedup (RefinedWeb / MassiveText style)
# --------------------------------------------------------------------------

def line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    delimiter: str = "\n",
    min_occurrences: int = 2,
    min_line_chars: int = 1,
) -> DataFrame:
    """Corpus-wide line-level deduplication (the RefinedWeb / MassiveText
    cleanup stage): drop every line that occurs at least
    ``min_occurrences`` times anywhere in the corpus, then reassemble each
    document with line order preserved.  Boilerplate lines (navigation,
    cookie banners, license headers) repeat across millions of pages, and
    removing them per-line beats dropping whole documents.

    Lines shorter than ``min_line_chars`` characters (after trim) are
    exempt — blank lines and one-character separators repeat naturally and
    carry no boilerplate signal.

    Output: one row per input document with
      ``text``       the reassembled document (duplicated lines removed)
      ``n_lines``    original line count (BIGINT)
      ``n_removed``  lines dropped (BIGINT)

    Plan shape at 100 TB: lines explode map-side and are immediately
    xxhash64-hashed; the global-occurrence count is a partial-aggregated
    ``groupBy(digest)`` whose shuffle carries 8-byte long keys with
    map-side-combined counts — NOT a window over the raw lines, which
    would funnel every copy of a high-frequency boilerplate line (the
    exact lines this operator targets) into one unbounded window
    partition (ADVICE r2).  The repeated-digest set (occ >=
    min_occurrences) is tiny — boilerplate vocabulary, not corpus volume
    — so the join back is AQE-broadcastable and the lines themselves
    never shuffle for it; any residual join skew is AQE-splittable,
    which window skew is not.  Reassembly is one keyed shuffle on the
    document id where collect_list + array_sort restores line order
    without a global sort.  Two data shuffles on compact keys total.
    """
    import re as _re

    c = F.col(text_col) if isinstance(text_col, str) else text_col
    # NULL text explodes to zero rows and the document would vanish
    # from the output (review r12) — coalesce to the empty document
    c = F.coalesce(c, F.lit(""))
    lines = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(F.split(c, _re.escape(delimiter))).alias(
                "pos", "line"
            ),
        )
        .withColumn("__h", F.xxhash64(F.col("line")))
    )
    dup_digests = (
        lines.groupBy("__h")
        .agg(F.count(F.lit(1)).alias("occ"))
        .filter(F.col("occ") >= min_occurrences)
        .select("__h", F.lit(True).alias("__dup"))
    )
    removed = F.col("__dup").isNotNull() & (
        F.length(F.trim(F.col("line"))) >= min_line_chars
    )
    flagged = (
        lines.join(dup_digests, "__h", "left")
        .withColumn("__rm", removed)
    )
    return flagged.groupBy("doc_id").agg(
        F.concat_ws(
            delimiter,
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            ~F.col("__rm"),
                            F.struct(F.col("pos"), F.col("line")),
                        )
                    )
                ),
                lambda s: s["line"],
            ),
        ).alias("text"),
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("__rm").cast("long")).alias("n_removed"),
    )


def cross_doc_span_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    k: int = 5,
    window: int = 4,
    max_occ: int | None = None,
) -> DataFrame:
    """Cross-document EXACT substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): any
    token run of at least ``k + window - 1`` tokens that also appears
    in an earlier document is removed — keep-first at span level, the
    within-line complement of ``line_dedup`` and the exact complement
    of MinHash's whole-document near-dup.

    Lee et al. build a corpus-wide suffix array — inherently
    single-machine.  The distributed construction here replaces it
    with positional winnowing + anchor extension.  The guarantee for
    runs >= k + window - 1 holds whenever the shared anchors'
    canonical (earliest) occurrences lie in a document that shares
    the run; if a THIRD, earlier document contains only an anchor's
    k-gram (not the surrounding run), extension against that
    canonical occurrence stops at the gram, and only the gram — not
    the whole run — is removed from the later documents (review r12;
    the exact-suffix-array construction has no such collision case).
    In practice boilerplate runs collide on many anchors, so the
    spans union covers the run unless EVERY anchor is shadowed:

    1. positional winnowing (Schleimer et al. 2003): hash every
       ``k``-token gram, select the leftmost-minimum hash position of
       each sliding ``window`` — any run of >= k + window - 1 shared
       tokens selects at least one COMMON anchor in both documents,
       by the winnowing self-synchronization property;
    2. keep-first: per anchor hash, the canonical source is the
       (min doc_id, min pos) occurrence; every anchor in a LATER
       document pairs with it (an equi-join on the hash — never
       all-pairs; the source side is the duplicated-vocabulary set,
       small and AQE-broadcastable);
    3. exact extension: each pair verifies the anchor gram
       token-for-token (hash collisions cannot fabricate a span) and
       extends left/right to the MAXIMAL equal run against the
       canonical occurrence — recovering the full duplicated span,
       not just the anchor gram;
    4. spans merge per document (gaps-and-islands over the span
       table, which is duplicated-content-sized, not corpus-sized)
       and the surviving tokens reassemble in order.

    Output: one row per input document with ``text_out`` (whitespace-
    normalized: surviving tokens joined by single spaces),
    ``n_tokens`` and ``n_removed`` (BIGINT).

    ``max_occ`` caps how many later-document anchors a single hash may
    pair with (boilerplate heavy-hitter knob, same contract as
    ``clone_pairs``); None = uncapped.

    100-TB shape: tokenization/gram hashing is map-side and
    recomputed per use rather than cached (the q_corpus_pipeline
    recompute-over-cache call); the only corpus-sized shuffles are
    the anchor groupBy (8-byte hash keys, map-side combined) and the
    final per-document reassembly join.  Extension is O(span) per
    anchor pair with arrays as join attributes — never a window over
    raw tokens."""
    if k < 1 or window < 1:
        raise ValueError("k and window must be >= 1")
    toks = F.filter(
        F.split(
            F.trim(F.coalesce(F.col(text_col), F.lit(""))), "[ \t\n\r\f]+"
        ),
        lambda x: x != "",
    )
    base = df.select(F.col(id_col).alias("doc_id"), toks.alias("toks"))

    def gram_hashes(tcol):
        # fixed-width hex strings: lexicographic order == numeric order,
        # so array_min gives a deterministic winnow selection without a
        # 64-bit numeric type (conv would overflow long at 16 hex chars)
        n_grams = F.size(tcol) - (k - 1)
        # when-guard: sequence(1, 0) DESCENDS in Spark, so an empty doc
        # would feed slice a zero start (same guard as
        # winnow_fingerprints above)
        return F.when(
            n_grams >= 1,
            F.transform(
                F.sequence(F.lit(1), n_grams),
                lambda i: F.substring(
                    F.md5(F.concat_ws(" ", F.slice(tcol, i, k))), 1, 16
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    # positional winnow selection.  The gram-hash array is bound
    # through a lambda variable (array-of-one + transform) so the
    # windowed min/argmin reference the MATERIALIZED array instead of
    # a CollapseProject-inlined recomputation per window (the O(n^2)
    # trap documented in NOTES.md).
    def selected(tcol):
        return F.flatten(
            F.transform(
                F.array(gram_hashes(tcol)),
                lambda g: F.when(
                    F.size(g) >= window,
                    F.transform(
                        F.sequence(
                            F.lit(1), F.size(g) - (window - 1)
                        ),
                        lambda j: F.struct(
                            (
                                j
                                + F.array_position(
                                    F.slice(g, j, window),
                                    F.array_min(F.slice(g, j, window)),
                                )
                                - 1
                            ).cast("int").alias("pos"),
                            F.array_min(F.slice(g, j, window)).alias(
                                "gh"
                            ),
                        ),
                    ),
                ).when(
                    # fewer grams than a window: keep the global
                    # minimum so short documents still anchor
                    # (winnow_fingerprints contract)
                    F.size(g) >= 1,
                    F.array(
                        F.struct(
                            F.array_position(g, F.array_min(g))
                            .cast("int")
                            .alias("pos"),
                            F.array_min(g).alias("gh"),
                        )
                    ),
                ).otherwise(
                    F.array().cast(
                        "array<struct<pos:int,gh:string>>"
                    )
                ),
            )
        )

    anchors = (
        base.select("doc_id", F.explode(selected(F.col("toks"))).alias("s"))
        .select("doc_id", F.col("s.pos").alias("pos"), F.col("s.gh").alias("gh"))
        .distinct()
    )
    src = anchors.groupBy("gh").agg(
        F.min(F.struct("doc_id", "pos")).alias("s")
    ).select(
        "gh",
        F.col("s.doc_id").alias("id_a"),
        F.col("s.pos").alias("pos_a"),
    )
    pairs = anchors.join(src, "gh").filter(F.col("doc_id") != F.col("id_a"))
    if max_occ is not None:
        w_occ = Window.partitionBy("gh").orderBy("doc_id", "pos")
        pairs = (
            pairs.withColumn("__rn", F.row_number().over(w_occ))
            .filter(F.col("__rn") <= max_occ)
            .drop("__rn")
        )

    ext = (
        pairs.join(
            base.select(
                F.col("doc_id").alias("id_a"), F.col("toks").alias("ta")
            ),
            "id_a",
        )
        .join(
            base.select("doc_id", F.col("toks").alias("tb")), "doc_id"
        )
    )
    A, B = F.col("ta"), F.col("tb")
    pa, pb = F.col("pos_a"), F.col("pos")
    lmax = F.least(pa, pb) - 1
    lmatch = F.when(
        lmax >= 1,
        F.transform(
            F.sequence(F.lit(1), lmax),
            lambda i: F.element_at(A, (pa - i).cast("int"))
            == F.element_at(B, (pb - i).cast("int")),
        ),
    ).otherwise(F.array().cast("array<boolean>"))
    lmis = F.array_position(lmatch, F.lit(False))
    e_left = (
        F.when(lmax <= 0, F.lit(0))
        .when(lmis == 0, lmax)
        .otherwise(lmis - 1)
    )
    rmax = F.least(F.size(A) - pa, F.size(B) - pb) - (k - 1)
    rmatch = F.when(
        rmax >= 1,
        F.transform(
            F.sequence(F.lit(1), rmax),
            lambda i: F.element_at(A, (pa + (k - 1) + i).cast("int"))
            == F.element_at(B, (pb + (k - 1) + i).cast("int")),
        ),
    ).otherwise(F.array().cast("array<boolean>"))
    rmis = F.array_position(rmatch, F.lit(False))
    e_right = (
        F.when(rmax <= 0, F.lit(0))
        .when(rmis == 0, rmax)
        .otherwise(rmis - 1)
    )
    spans = ext.filter(
        # collision guard: the anchor gram must match token-for-token
        F.slice(A, pa.cast("int"), k) == F.slice(B, pb.cast("int"), k)
    ).select(
        "doc_id",
        (pb - e_left).cast("int").alias("s"),
        (pb + (k - 1) + e_right).cast("int").alias("e"),
    )

    w_span = Window.partitionBy("doc_id").orderBy("s", "e")
    prev_max = F.max("e").over(
        w_span.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = (
        spans.withColumn(
            "__new",
            F.when(
                prev_max.isNull() | (F.col("s") > prev_max), 1
            ).otherwise(0),
        )
        .withColumn(
            "__isl",
            F.sum("__new").over(
                w_span.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("doc_id", "__isl")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
        .groupBy("doc_id")
        .agg(F.collect_list(F.struct("s", "e")).alias("spans"))
    )

    out = base.join(islands, "doc_id", "left")
    sp = F.coalesce(
        F.col("spans"), F.array().cast("array<struct<s:int,e:int>>")
    )
    kept = F.when(
        F.size("toks") >= 1,
        F.transform(
            F.filter(
                F.sequence(F.lit(1), F.size("toks")),
                lambda p: ~F.exists(
                    sp, lambda x: (p >= x["s"]) & (p <= x["e"])
                ),
            ),
            lambda p: F.element_at(F.col("toks"), p.cast("int")),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return out.select(
        "doc_id",
        F.array_join(kept, " ").alias("text_out"),
        F.size("toks").cast("long").alias("n_tokens"),
        (F.size("toks") - F.size(kept)).cast("long").alias("n_removed"),
    )


def _md5_minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int,
    k: int,
) -> DataFrame:
    """(__id, __m0..__m{num_perm-1}) signatures with an oracle-portable
    md5 permutation recipe, in the same explode + min-agg shape as
    ``minhash_signatures``.  One md5 digest yields FOUR 32-bit
    permutation values (8-hex slices), so the expensive string hash runs
    ``ceil(num_perm/4)`` times per shingle, not ``num_perm`` times:
    perm j = ``conv(substring(md5((j//4) || ':' || shingle),
    (j%4)*8+1, 8), 16, 10)``."""
    ex = df.select(
        F.col(id_col).alias("__id"),
        F.explode(shingles(text_col, k)).alias("__s"),
    )
    digests = {
        g: F.md5(F.concat(F.lit(f"{g}:"), F.col("__s")))
        for g in range((num_perm + 3) // 4)
    }
    aggs = [
        F.min(
            F.conv(
                F.substring(digests[j // 4], (j % 4) * 8 + 1, 8), 16, 10
            ).cast("long")
        ).alias(f"__m{j}")
        for j in range(num_perm)
    ]
    return ex.groupBy("__id").agg(*aggs)


def minhash_band_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    num_perm: int = 64,
    bands: int = 16,
    k: int = 5,
    seed: int = 42,
    method: str = "xxhash64",
) -> DataFrame:
    """Persistable banded-LSH index of an ingested corpus: one row per
    (id, band, bhash).  This is the state that makes near-dup dedup
    INCREMENTAL — tonight's shard is checked against the index, never
    against the 100-TB corpus text.  Append survivors' band rows after
    each shard; write bucketed by (band, bhash) for a one-sided shuffle.

    ``method='xxhash64'`` is the fast JVM path (band hash = xxhash64 of
    the band's sub-signature); ``method='md5'`` is the oracle-portable
    twin in the same md5-based style as q_minhash_md5 but with a
    DIFFERENT permutation recipe: one md5 digest per GROUP of 4
    permutations (``md5('<j//4>:'||x)``, hex slice ``(j%4)*8+1..8``),
    vs q_minhash_md5's one digest per permutation — 4x fewer digests,
    but the signatures are NOT interchangeable with that gate's values.
    Band hash = the comma-joined sub-signature; ``seed`` is unused.
    Same shape either way, every md5 value replayable in DuckDB.
    """
    if bands < 1 or num_perm % bands:
        raise ValueError(
            f"bands={bands} must divide num_perm={num_perm} (a "
            "non-divisor silently discards the signature tail; "
            "bands > num_perm degenerates every band to a constant)")
    rows_per_band = num_perm // bands
    if method == "md5":
        sig = _md5_minhash_signatures(df, id_col, text_col, num_perm, k)
        cols = [F.col(f"__m{j}") for j in range(num_perm)]
        bh = [
            F.concat_ws(
                ",",
                *[
                    c.cast("string")
                    for c in cols[b * rows_per_band : (b + 1) * rows_per_band]
                ],
            )
            for b in range(bands)
        ]
    else:
        wide = minhash_signatures(df, id_col, text_col, num_perm, k, seed)
        cols = [
            F.element_at(F.col("__sig"), j + 1) for j in range(num_perm)
        ]
        bh = [
            F.xxhash64(
                *cols[b * rows_per_band : (b + 1) * rows_per_band]
            ).cast("string")
            for b in range(bands)
        ]
        sig = wide
    return sig.select(
        F.col("__id").alias(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).cast("int").alias("band"),
                        bh[b].alias("bhash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("__bb"),
    ).select(id_col, "__bb.band", "__bb.bhash")


def persist_minhash_band_index(
    spark,
    index_df: DataFrame,
    table: str,
    path: str,
    n_buckets: int = 64,
) -> DataFrame:
    """Persist a ``minhash_band_index`` bucketed by ``(band, bhash)`` and
    return the catalog-backed DataFrame to probe against.

    This makes the nightly-shard join ONE-SIDED: the bucketed scan's
    output partitioning is already hash(band, bhash) x n_buckets, so
    ``incremental_minhash_dedup`` plans an SMJ where only the (small)
    incoming shard's band rows shuffle — the persisted index, which grows
    with the corpus, is read in place with zero Exchange (pinned by
    test_storage.test_incremental_minhash_bucketed_index_one_sided).
    At 100 TB the index is the big side by orders of magnitude, so this
    is the difference between reshuffling the whole index per shard and
    touching only its matching buckets.

    Append pattern: after a shard is admitted, write its survivors' band
    rows with ``.mode('append')`` through the same bucket spec (bucket
    layout is stable under append — same hash, same count).
    """
    from .. import storage

    storage.write_bucketed(
        index_df, table, path, ["band", "bhash"], n_buckets
    )
    return spark.table(table)


def incremental_minhash_dedup(
    new_df: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    num_perm: int = 64,
    bands: int = 16,
    k: int = 5,
    seed: int = 42,
    method: str = "xxhash64",
) -> DataFrame:
    """Near-dup dedup of an incoming shard against a persisted
    ``minhash_band_index`` — the MinHash counterpart of
    ``incremental_exact_dedup``: the old corpus text is never read, only
    its band index.  Decision rule is the banded-LSH one (collision in
    >= 1 band -> near-duplicate of the ingested corpus -> drop); at the
    composed pipeline's 16x4 default a J>=0.9 twin escapes with p~4e-8.
    There is no exact-verify stage here by construction (no old text);
    tune precision with bands/rows per the S-curve, and run
    ``near_duplicate_pipeline`` WITHIN the shard first if intra-shard
    twins matter.

    Scale shape: one equi-join of the shard's band rows against the
    index on compact (band, bhash) keys (one-sided shuffle if the index
    is bucketed), one distinct on hit ids, one anti-join back — the
    shard is scanned twice, the corpus zero times.  Returns surviving
    shard rows; append ``minhash_band_index(survivors)`` to the index.
    """
    shard_bands = minhash_band_index(
        new_df, id_col, text_col, num_perm=num_perm, bands=bands, k=k,
        seed=seed, method=method,
    )
    hits = (
        shard_bands.join(
            index.select("band", "bhash"), ["band", "bhash"], "left_semi"
        )
        .select(id_col)
        .distinct()
    )
    return new_df.join(hits, id_col, "left_anti")


def incremental_exact_dedup(
    new_df: DataFrame,
    seen_digests: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """Dedup an incoming shard against an already-ingested corpus — the
    production shape of exact dedup, where re-deduping 100 TB from
    scratch per shard is not an option.  ``seen_digests`` is the
    persisted one-column ``digest`` table of everything ingested so far
    (md5 of content; tiny relative to the corpus, append-only).

    Two stages, one invariant: (1) within-shard keep-lowest-id per
    digest; (2) anti-join the survivors against the seen set.  The result
    equals running ``exact_dedup_by_content`` over (old corpus + shard)
    and keeping only shard rows — the q_incr_dedup gate checks exactly
    that invariant against the full-corpus oracle.

    At scale stage 2's join shuffles only digests (32-byte keys); if the
    seen table is bucketed by digest the shuffle is one-sided.  Returns
    the surviving shard rows plus their ``digest`` column, ready to
    append to ``seen_digests``.
    """
    within = exact_dedup_by_content(new_df, id_col, content_col)
    w = within.withColumn("digest", F.md5(F.col(content_col)))
    return w.join(
        seen_digests.select("digest").distinct(), "digest", "left_anti"
    )


#: Upper bound on the set-similarity salt factor (r14, VERDICT r13 #3).
#: The b side of the salted candidate join is REPLICATED once per salt
#: value, so an uncapped ``n_salt = defaultParallelism`` blows the
#: posting side up by the cluster's core count — correct on local[32],
#: a thousandfold explosion at the 100 TB posture.  Guide §2.5 sizes a
#: salt to the SKEW (how many ways one hot key must split), not to the
#: cluster: 64 splits the worst single-token pair block 64 ways, which
#: is already far below any one task's fair share at scale, while the
#: JOIN parallelism is supplied separately (see ``_salt_count`` callers
#: — the repartition count stays ``defaultParallelism``).
MAX_SET_SIM_SALT = 64


def _salt_count(parallelism: int) -> int:
    """Salt factor for ``set_similarity_join``: enough to split a hot
    prefix-token's pair block across the local slots, never more than
    ``MAX_SET_SIM_SALT`` (the b-side replication factor)."""
    return max(1, min(parallelism, MAX_SET_SIM_SALT))


def set_similarity_join(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold_num: int = 1,
    threshold_den: int = 2,
    materialize: bool = True,
) -> DataFrame:
    """EXACT token-set Jaccard self-join via prefix filtering (the
    PPJoin family, Xiao et al. 2008): every pair with
    ``J >= threshold_num/threshold_den`` — no recall loss (unlike the
    MinHash-LSH path) and no all-pairs blowup (unlike
    ngram_jaccard_pairs).

    The lossless pruning: order each document's token set globally by
    (corpus frequency ASC, token) — rarest first — and keep only its
    *prefix* of ``s - ceil(t*s) + 1`` tokens.  Two sets with Jaccard >=
    t MUST share a prefix token, so the candidate set is the equi-join
    of prefix postings (rare tokens ⇒ short postings lists), bounded
    further by the length filter ``t*|a| <= |b|``.  Exact verification
    then runs only on candidates, with the integer cross-multiplied
    test ``inter * den >= num * (sa + sb - inter)`` — no floats, the
    result is hash-gateable and provably equal to the naive quadratic
    join (the gate's oracle).

    Plan: one explode + vocab groupBy (frequency), one token-keyed join
    back, one groupBy per doc (sorted set build), one prefix-token
    equi-join (the candidate generation — shuffle keyed on rare tokens),
    and one key-equi join back to the doc arrays for the verify.
    Postings of FREQUENT tokens never enter the join: prefixes hold the
    rare end of each document.

    Returns ``(id_a, id_b, inter, sa, sb)`` — exact BIGINT sufficient
    statistics (``jaccard = inter / (sa + sb - inter)`` when wanted).
    """
    from .textanalysis import tokens

    num, den = threshold_num, threshold_den
    toks = df.select(
        F.col(id_col).alias("__id"),
        F.explode(F.array_distinct(tokens(text_col))).alias("tok"),
    ).filter(F.col("tok") != "")
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    ordered = (
        toks.join(freq, "tok")
        .groupBy("__id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("cnt"), F.col("tok")))
            ).alias("__arr")
        )
        .select(
            "__id",
            F.transform(F.col("__arr"), lambda s: s["tok"]).alias("__toks"),
            F.size(F.col("__arr")).alias("__s"),
        )
    )
    # ``ordered`` (the frequency-sorted token-set table) is referenced
    # THREE times — prefix explode + both verify sides — and the
    # aliasing projections defeat exchange reuse, so each reference
    # re-ran the tokenize + freq join + sort-collect chain (r14,
    # profiled as triplet stages).  Materialize it once (the r13
    # multiply-referenced-graph-frames pattern, guide §1.2); it is the
    # DISTINCT token-set table, not raw text, and the pair join
    # downstream dominates it at any scale.  materialize=False keeps
    # the recompute-from-scan shape.
    if materialize:
        ordered = ordered.localCheckpoint(eager=True)
    # prefix length s - ceil(t*s) + 1, exact integer ceil
    p = (
        F.col("__s")
        - F.expr(f"CAST(({num} * __s + {den} - 1) DIV {den} AS INT)")
        + F.lit(1)
    )
    prefix = ordered.select(
        "__id",
        "__s",
        F.explode(F.slice(F.col("__toks"), 1, p)).alias("ptok"),
    )
    # Salted candidate join (r13).  The posting join's key is a TOKEN:
    # its distinct-value count is the prefix vocabulary, so the
    # post-shuffle parallelism is capped at #distinct prefix tokens (31
    # on the degenerate gate fixture) and a frequent prefix token is a
    # single un-splittable hot key — AQE's skew split cannot divide one
    # key, and its byte-based coalescing sees only the tiny posting
    # INPUT (0.5 MB at sf0.1), merging the whole quadratic join OUTPUT
    # into ONE partition (measured: 27 s single-task stages with 31
    # cores idle).  Salting by hash(id_a) splits every posting's pair
    # block ~evenly: the a side gets a deterministic salt, the b side
    # replicates across all salt values (prefix postings are the RARE
    # end of each document — the replicated side is the small one by
    # construction), and explicit repartition pins the partition count
    # (REPARTITION_BY_NUM is exempt from AQE coalescing).  Each (id_a,
    # id_b, ptok) match survives in exactly one salt bucket, so the
    # candidate set is unchanged.  The salt factor is CAPPED (r14): it
    # sets the b-side replication, so it must be sized to the skew, not
    # the cluster; join parallelism comes from ``n_part`` below, which
    # stays at defaultParallelism independently of the salt count.
    n_part = df.sparkSession.sparkContext.defaultParallelism
    n_salt = _salt_count(n_part)
    a = prefix.select(
        F.col("__id").alias("id_a"),
        F.col("__s").alias("__sa0"),
        "ptok",
        F.pmod(F.xxhash64(F.col("__id")), F.lit(n_salt))
        .cast("int")
        .alias("__slt"),
    )
    b = prefix.select(
        F.col("__id").alias("id_b"),
        F.col("__s").alias("__sb0"),
        "ptok",
        F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))).alias("__slt"),
    )
    cand = (
        a.repartition(n_part, "ptok", "__slt")
        .join(b.repartition(n_part, "ptok", "__slt"), ["ptok", "__slt"])
        .filter(
            (F.col("id_a") < F.col("id_b"))
            # length filter: t*sa <= sb (sa >= sb symmetric case holds
            # because pairs appear in both orders before the id filter)
            & (F.col("__sb0") * den >= F.col("__sa0") * num)
            & (F.col("__sa0") * den >= F.col("__sb0") * num)
        )
        .select("id_a", "id_b")
        .distinct()
    )
    docs_a = ordered.select(
        F.col("__id").alias("id_a"),
        F.col("__toks").alias("__ta"),
        F.col("__s").alias("sa"),
    )
    docs_b = ordered.select(
        F.col("__id").alias("id_b"),
        F.col("__toks").alias("__tb"),
        F.col("__s").alias("sb"),
    )
    verified = (
        cand.join(docs_a, "id_a")
        .join(docs_b, "id_b")
        .withColumn(
            "inter",
            F.size(F.array_intersect(F.col("__ta"), F.col("__tb"))).cast(
                "long"
            ),
        )
        .filter(
            F.col("inter") * den
            >= num * (F.col("sa") + F.col("sb") - F.col("inter"))
        )
    )
    out = verified.select(
        "id_a",
        "id_b",
        "inter",
        F.col("sa").cast("long").alias("sa"),
        F.col("sb").cast("long").alias("sb"),
    )
    # materialize the (result-sized) verified pairs before the global
    # sort: the range exchange SAMPLES its child, which otherwise
    # re-executes the distinct + verify chain a second time (r13, the
    # codec-lane orderBy lesson; measured as twin 42-52 s-run stages
    # both reading the candidate exchange).  ``materialize=False``
    # (r14, ADVICE r13 #2) keeps the full lineage for plan-only
    # consumers and for callers that want recompute-from-scan fault
    # recovery instead of the pinned executor blocks.
    if materialize:
        out = out.localCheckpoint(eager=True)
    return out.orderBy("id_a", "id_b")
