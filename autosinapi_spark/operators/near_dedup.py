"""Near-duplicate detection: MinHash + LSH banding, SimHash (extensions).

The promised scale path for fuzzy dedup over a document corpus
(``operators/dedup.py`` handles the exact case). Everything is
built-in Column expressions — md5-based hashing so the DuckDB oracle
can reproduce signatures bit-for-bit (Spark's xxhash64/hash are
engine-private).

Pipeline (classic banded MinHash-LSH, e.g. Leskovec et al., "Mining
of Massive Datasets" ch. 3):

1. shingle: word n-grams of the whitespace-normalized text,
   deduplicated per document (set semantics for Jaccard).
2. signature: k minhash values; hash_i(s) = first 60 bits of
   md5(i || ':' || s) — engine-portable and uniform enough.
3. band: split the signature into b bands of r rows; band key =
   md5 of the band's joined values. Only documents sharing a band
   key ever meet.
4. candidates: self-join on (band index, band key) with id_a < id_b;
   distinct pairs.
5. verify: exact Jaccard over the shingle sets, threshold filter.

Scale notes: the only shuffles are the groupBy-band (narrow: id +
16-byte key) and the candidate join; no all-pairs stage ever
materializes. Probability a pair with Jaccard J becomes a candidate
is 1-(1-J^r)^b — tune (k, b, r) to the target threshold; the final
exact-Jaccard filter removes band false-positives, so the output is
exact w.r.t. recall misses only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def portable_hash64(c: Column, seed: int) -> Column:
    """First 60 bits of md5(seed:val) as a non-negative bigint.

    Identical in DuckDB as ``CAST('0x' || substr(md5(seed || ':' ||
    val), 1, 15) AS BIGINT)`` — the cross-engine contract the oracle
    relies on.
    """
    hx = F.substring(F.md5(F.concat(F.lit(f"{seed}:"), c)), 1, 15)
    return F.conv(hx, 16, 10).cast("bigint")


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of normalized text.

    Implementation note (10x+ hot-path win): the obvious
    ``transform(sequence(...), i -> element_at(ts, i+j))`` re-evaluates
    the ``ts`` split expression PER ELEMENT inside the lambda —
    O(tokens²) string splitting per document (21s -> 1s at sf0.1 for
    the minhash corpus). Zipping shifted slices keeps every ``ts``
    evaluation at once-per-row and the lambda touches only its own
    element.

    Documents shorter than n tokens yield an empty array — the WHEN
    guard also keeps ``slice`` from seeing a negative length (ANSI
    error).
    """
    ts = F.split(F.trim(F.regexp_replace(text, r"\s+", " ")), " ")
    empty = F.array_except(F.array(F.lit("")), F.array(F.lit("")))
    return (
        F.when(F.size(ts) >= n, F.array_distinct(shingle_grams(ts, n)))
        .otherwise(empty)
    )


def shingle_grams(ts: Column, n: int) -> Column:
    """Ordered, NON-distinct word n-grams of a token array (the
    positional form winnowing and frequency counts need; ``shingles``
    wraps this with the set semantics Jaccard needs). Caller guards
    ``size(ts) >= n`` — below that, ``slice`` sees a negative length
    (ANSI error)."""
    cnt = F.size(ts) - (n - 1)
    grams = F.slice(ts, 1, cnt)
    for j in range(1, n):
        grams = F.zip_with(
            grams,
            F.slice(ts, j + 1, cnt),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return grams


# Mersenne prime for the universal-hash family; (P-1)^2 < 2^62 so the
# a*h+b mix never overflows BIGINT in either engine.
MERSENNE_P = (1 << 31) - 1


def minhash_params(num_hashes: int, seed: int = 71) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the k linear permutations."""
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, MERSENNE_P), rng.randrange(0, MERSENNE_P))
        for _ in range(num_hashes)
    ]


def base_hashes(sg: Column, hash_fn: str = "md5") -> Column:
    """One hash per shingle, reduced mod P — the expensive step, paid
    exactly once; the k signature hashes are integer mixes of this.

    ``hash_fn="md5"`` (default) is the engine-portable contract the
    DuckDB oracle replays bit-for-bit. ``hash_fn="xxhash64"`` swaps in
    Spark's native non-cryptographic hash for deployment — same
    pipeline, no oracle replay (xxhash64 is engine-private), measured
    ~15% faster end-to-end on the minhash query at sf0.1 (the one-pass
    base-hash design already amortized most of the md5 cost; candidate
    sets can differ on borderline pairs since banding recall is a
    per-hash-family coin flip, but the exact-Jaccard verify keeps
    precision identical).
    """
    if hash_fn == "xxhash64":
        # signed 64-bit -> non-negative residue via pmod
        return F.transform(sg, lambda s: F.pmod(F.xxhash64(s), F.lit(MERSENNE_P)))
    if hash_fn != "md5":
        raise ValueError(f"unknown hash_fn {hash_fn!r}; use 'md5' or 'xxhash64'")
    return F.transform(sg, lambda s: portable_hash64(s, 0) % MERSENNE_P)


def minhash_signature(hh: Column, num_hashes: int) -> list[Column]:
    """k minhash values via universal hashing over one base-hash array.

    ``hh`` must be a ``base_hashes(...)`` result — materialize it as a
    real column first so the md5 pass runs once (expression-level CSE
    across k signature columns is not guaranteed). Each signature is
    h_k(s) = (a_k * h(s) + b_k) mod P — the standard one-hash-plus-
    linear-permutations MinHash; 12x fewer md5 calls than hashing per
    seed (cut the sf0.1 query from 66s to single digits).

    NB: all lambdas are single-argument — Spark's higher-order
    functions bind a second lambda parameter to the array index, so a
    `k=k` default capture would be silently overwritten with a Column.
    """

    def mk(a: int, b: int) -> Column:
        return F.array_min(
            F.transform(hh, lambda h: (F.lit(a) * h + F.lit(b)) % MERSENNE_P)
        )

    return [mk(a, b) for a, b in minhash_params(num_hashes)]


def band_keys(sig_cols: list[Column], bands: int, rows: int) -> Column:
    """array<struct<band:int, bkey:string>> — one LSH key per band."""
    assert len(sig_cols) == bands * rows
    entries = []
    for b in range(bands):
        chunk = sig_cols[b * rows : (b + 1) * rows]
        key = F.md5(F.concat_ws(",", *[c.cast("string") for c in chunk]))
        entries.append(F.struct(F.lit(b).alias("band"), key.alias("bkey")))
    return F.array(*entries)


def simhash(sg: Column, bits: int = 16) -> Column:
    """SimHash fingerprint over a shingle set (bits-wide, default 16).

    bit_i = 1 iff more shingle hashes have bit i set than unset; the
    fingerprint is Σ bit_i << i. Near-dup candidates are fingerprints
    within small Hamming distance (pairing via the same banding
    machinery as MinHash — split the fingerprint into byte bands).
    """
    return simhash_from_hashes(
        F.transform(sg, lambda s: portable_hash64(s, 0)), bits
    )


def simhash_from_hashes(hh: Column, bits: int = 16) -> Column:
    """SimHash over a precomputed hash array.

    Materialize ``hh`` as a real column before calling — the bit
    tests reference it ``bits`` times and only an attribute is
    guaranteed to evaluate the md5 pass once.
    """

    def ones_at(i: int) -> Column:
        # single-arg lambda: see minhash_signature note on index binding
        return F.size(
            F.filter(hh, lambda h: h.bitwiseAND(F.lit(1 << i)) != 0)
        )

    total = F.size(hh)
    acc = F.lit(0).cast("bigint")
    for i in range(bits):
        bit = F.when(ones_at(i) * 2 > total, F.lit(1)).otherwise(F.lit(0))
        acc = acc + bit.cast("bigint") * F.lit(1 << i)
    return acc


def ngram_jaccard_pairs(
    docs: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 2,
    threshold: float = 0.6,
    base: DataFrame | None = None,
) -> DataFrame:
    """EXACT all-pairs word-ngram Jaccard >= threshold via prefix
    filtering (AllPairs / PPJoin family, Bayardo et al. WWW'07).

    Unlike MinHash-LSH (probabilistic recall), prefix filtering is
    LOSSLESS: under one global token order, any pair with
    J >= t must share a token within each side's first
    |S| - ceil(t*|S|) + 1 tokens, so an inverted-index equi-join on
    those prefixes alone yields every qualifying pair. Ordering tokens
    by ascending global document frequency keeps the index postings
    short (the rarest tokens carry the candidates), which is also what
    kills join skew at scale: hot tokens sort to the END of each list
    and drop out of the prefix. Shuffles carry (token, id) pairs and
    the candidate set — never all-pairs.

    ``base`` (optional): a precomputed ``(id, sg)`` shingle frame with
    the SAME ngram/normalization contract (e.g. a checkpointed
    ``corpus_signatures`` projection) — callers running both dedup
    arms over one corpus pass it so the shingle pass is paid once;
    ``docs`` is then ignored. Precondition: every ``sg`` array is a
    DISTINCT set (as ``shingles`` and ``corpus_signatures`` build it).
    The verify step computes |A ∪ B| as |A| + |B| - |A ∩ B|, which
    overcounts the union, and so understates the Jaccard, when an
    array repeats an element; nothing checks this at run time.
    """
    if base is None:
        sg = shingles(F.col(text_col), ngram)
        base = docs.select(F.col(id_col).alias("id"), sg.alias("sg")).where(
            F.size(F.col("sg")) >= 1
        )
        # materialize the shingle pass ONCE (r15): this frame feeds
        # the token explode AND both verify-side rejoins, so without a
        # checkpoint the scan+normalize+shingle pass re-executes ~3x
        # per query. Eager for the same reason as banded_minhash: the
        # a/b prefix stages run concurrently under AQE and a lazy
        # checkpoint makes them race to compute the same partitions.
        base = base.localCheckpoint(eager=True)
    else:
        base = base.select("id", "sg")
    toks = base.select("id", F.explode("sg").alias("tok"))
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    # per-doc token list sorted by (global df, token): deterministic
    # rarest-first order shared by every document
    ordered = (
        toks.join(freq, "tok")
        .groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "tok"))).alias("st"))
    )
    plen = (
        F.size("st") - F.ceil(F.lit(threshold) * F.size("st")) + 1
    ).cast("int")
    # postings carry (token, 1-based position in the sorted list, set
    # size) so the join can apply PPJoin's lossless filters
    prefix = ordered.select(
        "id",
        F.size("st").alias("sz"),
        F.posexplode(
            F.slice(F.transform("st", lambda s: s["tok"]), F.lit(1), plen)
        ).alias("pos0", "tok"),
    ).select("id", "sz", (F.col("pos0") + 1).alias("pos"), "tok")
    a = prefix.select(
        "tok",
        F.col("id").alias("id_a"),
        F.col("sz").alias("sz_a"),
        F.col("pos").alias("pos_a"),
    )
    b = prefix.select(
        "tok",
        F.col("id").alias("id_b"),
        F.col("sz").alias("sz_b"),
        F.col("pos").alias("pos_b"),
    )
    # overlap needed for J >= t: alpha = ceil(t/(1+t) * (|A|+|B|))
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("sz_a") + F.col("sz_b"))
    )
    cand = (
        a.join(b, "tok")
        .where(
            (F.col("id_a") < F.col("id_b"))
            # length filter: J >= t forces t|B| <= |A| <= |B|/t
            & (F.col("sz_a") >= threshold * F.col("sz_b"))
            & (F.col("sz_b") >= threshold * F.col("sz_a"))
            # positional filter: the FIRST common token (always inside
            # both prefixes when J >= t) can head at most
            # 1 + min(remaining suffix) common tokens
            & (
                F.lit(1)
                + F.least(
                    F.col("sz_a") - F.col("pos_a"),
                    F.col("sz_b") - F.col("pos_b"),
                )
                >= alpha
            )
        )
        .select("id_a", "id_b")
        .distinct()
    )
    pairs = cand.join(
        base.select(F.col("id").alias("id_a"), F.col("sg").alias("sg_a")),
        "id_a",
    ).join(
        base.select(F.col("id").alias("id_b"), F.col("sg").alias("sg_b")),
        "id_b",
    )
    # |A ∪ B| = |A| + |B| - |A ∩ B| for the DISTINCT shingle sets both
    # sides carry by construction (r15): one array pass per pair
    # instead of two, no union-array allocation; integer identity, so
    # the rounded jaccard is bit-identical (the oracle's
    # len(list_distinct(a.sg || b.sg)) computes the same |A ∪ B|).
    inter = F.size(F.array_intersect("sg_a", "sg_b"))
    jac = inter / (F.size("sg_a") + F.size("sg_b") - inter)
    return pairs.select(
        "id_a", "id_b", F.round(jac, 6).alias("jaccard")
    ).where(F.col("jaccard") >= threshold)


def corpus_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 3,
    hash_fn: str = "md5",
) -> DataFrame:
    """(id, sg, hh) — the persistable per-document LSH state.

    This is the frame a steady-state ingestion pipeline writes to its
    signature store (parquet, partitioned by ingestion batch): ``sg``
    feeds exact-Jaccard verification, ``hh`` feeds the k signature
    mixes. Re-banding from it is pure integer arithmetic, so (bands,
    rows, num_hashes) can be retuned WITHOUT re-reading the corpus
    text — the expensive shingle+hash pass happens exactly once per
    document lifetime.
    """
    sg = shingles(F.col(text_col), ngram)
    base = docs.select(F.col(id_col).alias("id"), sg.alias("sg")).where(
        F.size(F.col("sg")) >= 1
    )
    return base.select("id", "sg", base_hashes(F.col("sg"), hash_fn).alias("hh"))


def banded_from_signatures(
    sigs: DataFrame, num_hashes: int, bands: int, rows: int
) -> tuple[DataFrame, DataFrame]:
    """(base, keyed) from a precomputed/persisted signature frame."""
    base = sigs.select("id", "sg")
    sig = minhash_signature(F.col("hh"), num_hashes)
    keyed = sigs.select(
        "id", F.explode(band_keys(sig, bands, rows)).alias("bk")
    ).select(
        "id", F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey")
    )
    return base, keyed


def banded_minhash(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 12,
    bands: int = 4,
    rows: int = 3,
    ngram: int = 3,
    hash_fn: str = "md5",
) -> tuple[DataFrame, DataFrame]:
    """Shared LSH front half: (base, keyed) frames.

    ``base`` = (id, sg) shingle sets (for exact-Jaccard verification),
    ``keyed`` = (id, band, bkey) LSH keys — the banded frame carries
    only the id plus a 16-byte key, so shingle arrays stay OUT of the
    LSH shuffle; they rejoin only for the (much smaller) candidate
    verification. Self-join consumers: :func:`minhash_near_dup_pairs`;
    cross-corpus consumers: :func:`minhash_incremental_matches`.

    The (id, sg, hh) frame is localCheckpoint-ed EAGERLY: base and
    keyed both reference it, and each appears twice downstream (a/b
    join sides, verify rejoin), so without the checkpoint the
    shingle+hash pass re-executes ~4x per query. Eager (not lazy)
    because the a/b exchange stages of the self-join run CONCURRENTLY
    under AQE — with a lazy checkpoint both race to compute the same
    partitions (observed as duplicate shingle work + "Block already
    exists" churn, a 3x swing in bench runs); eager pins exactly one
    materialization before any consumer stage starts — the in-query
    analogue of the persisted signature store
    (:func:`corpus_signatures`).
    """
    sigs = corpus_signatures(docs, text_col, id_col, ngram, hash_fn)
    return banded_from_signatures(
        sigs.localCheckpoint(eager=True), num_hashes, bands, rows
    )


def minhash_near_dup_pairs(
    docs: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 12,
    bands: int = 4,
    rows: int = 3,
    ngram: int = 3,
    threshold: float = 0.5,
    hash_fn: str = "md5",
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, exact Jaccard >= threshold).

    Returns (id_a, id_b, jaccard) — jaccard rounded to 6 for
    cross-engine hash stability. ``hash_fn`` selects the shingle hash
    family (see :func:`base_hashes`): md5 for oracle portability,
    xxhash64 as the faster deployment path. Pass ``signatures`` (a
    precomputed :func:`corpus_signatures` frame) to skip the text
    shingle+hash pass entirely; ``docs`` is then ignored. Its ``sg``
    arrays must be DISTINCT sets, as :func:`corpus_signatures` builds
    them: the exact-Jaccard verify uses |A ∪ B| = |A| + |B| - |A ∩ B|,
    which is wrong, silently, for arrays with repeated elements.
    """
    if signatures is not None:
        base, keyed = banded_from_signatures(
            signatures, num_hashes, bands, rows
        )
    else:
        base, keyed = banded_minhash(
            docs, text_col, id_col, num_hashes, bands, rows, ngram, hash_fn
        )

    a = keyed.select("band", "bkey", F.col("id").alias("id_a"))
    b = keyed.select("band", "bkey", F.col("id").alias("id_b"))
    cand = (
        a.join(b, ["band", "bkey"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    pairs = cand.join(
        base.select(F.col("id").alias("id_a"), F.col("sg").alias("sg_a")),
        "id_a",
    ).join(
        base.select(F.col("id").alias("id_b"), F.col("sg").alias("sg_b")),
        "id_b",
    )
    # |A ∪ B| = |A| + |B| - |A ∩ B| for the DISTINCT shingle sets both
    # sides carry by construction (r15): one array pass per pair
    # instead of two, no union-array allocation; integer identity, so
    # the rounded jaccard is bit-identical (the oracle's
    # len(list_distinct(a.sg || b.sg)) computes the same |A ∪ B|).
    inter = F.size(F.array_intersect("sg_a", "sg_b"))
    jac = inter / (F.size("sg_a") + F.size("sg_b") - inter)
    return (
        pairs.select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def minhash_incremental_matches(
    old_docs: DataFrame | None,
    new_docs: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 12,
    bands: int = 4,
    rows: int = 3,
    ngram: int = 3,
    threshold: float = 0.5,
    hash_fn: str = "md5",
    old_signatures: DataFrame | None = None,
    new_signatures: DataFrame | None = None,
) -> DataFrame:
    """Incremental dedup: match NEW documents against an EXISTING corpus.

    The ingestion-time variant of :func:`minhash_near_dup_pairs` — a
    new crawl batch is checked against the already-accepted corpus,
    and only cross-side (old, new) candidates are generated: the join
    is old x new within each (band, bkey), never new x new or
    old x old, so a batch of B docs against a corpus of N costs the
    banding of B + N plus the cross-bucket candidates — not the
    (N+B)^2/2 self-join space. In steady state pass
    ``old_signatures`` — a persisted :func:`corpus_signatures` frame
    (read back from the signature store) — and the corpus side skips
    text shingling entirely; only the batch side hashes fresh.
    ``old_docs`` is ignored when ``old_signatures`` is given.

    Returns (new_id, matched_id, jaccard): per new doc, its
    best-matching existing doc (highest exact Jaccard >= threshold,
    ties to the smallest matched_id — deterministic). New docs with no
    match are absent (they are the ones to ACCEPT into the corpus).
    """
    if old_signatures is not None:
        base_old, keyed_old = banded_from_signatures(
            old_signatures, num_hashes, bands, rows
        )
    else:
        base_old, keyed_old = banded_minhash(
            old_docs, text_col, id_col, num_hashes, bands, rows, ngram, hash_fn
        )
    if new_signatures is not None:
        base_new, keyed_new = banded_from_signatures(
            new_signatures, num_hashes, bands, rows
        )
    else:
        base_new, keyed_new = banded_minhash(
            new_docs, text_col, id_col, num_hashes, bands, rows, ngram, hash_fn
        )
    cand = (
        keyed_old.select(
            "band", "bkey", F.col("id").alias("matched_id")
        )
        .join(
            keyed_new.select("band", "bkey", F.col("id").alias("new_id")),
            ["band", "bkey"],
        )
        .select("new_id", "matched_id")
        .distinct()
    )
    pairs = cand.join(
        base_old.select(F.col("id").alias("matched_id"), F.col("sg").alias("sg_a")),
        "matched_id",
    ).join(
        base_new.select(F.col("id").alias("new_id"), F.col("sg").alias("sg_b")),
        "new_id",
    )
    # |A ∪ B| = |A| + |B| - |A ∩ B| for the DISTINCT shingle sets both
    # sides carry by construction (r15): one array pass per pair
    # instead of two, no union-array allocation; integer identity, so
    # the rounded jaccard is bit-identical (the oracle's
    # len(list_distinct(a.sg || b.sg)) computes the same |A ∪ B|).
    inter = F.size(F.array_intersect("sg_a", "sg_b"))
    jac = inter / (F.size("sg_a") + F.size("sg_b") - inter)
    scored = pairs.select(
        "new_id", "matched_id", F.round(jac, 6).alias("jaccard")
    ).where(F.col("jaccard") >= threshold)
    # argmax as a hash aggregate, not a row_number window: a window
    # would SORT every candidate group (full sort shuffle of the pair
    # stream); max(struct) partial-aggregates map-side and ships one
    # row per (partition, new_id). Struct comparison is lexicographic,
    # so (jaccard, -matched_id) encodes "highest jaccard, ties to the
    # smallest matched_id" exactly.
    best = scored.groupBy("new_id").agg(
        F.max(
            F.struct(
                F.col("jaccard"), (-F.col("matched_id")).alias("neg_id")
            )
        ).alias("m")
    )
    return best.select(
        "new_id",
        (-F.col("m.neg_id")).alias("matched_id"),
        F.col("m.jaccard").alias("jaccard"),
    )
