"""Vector column expressions for embedding similarity.

Built-in higher-order functions (zip_with / aggregate / transform) keep
the dot products JVM-side — no Python round-trip. Elements are cast to
double before arithmetic so results match the DuckDB oracle's DOUBLE[]
math.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(v: Column) -> Column:
    """Array-level cast, not a per-element ``transform`` lambda (r15):
    ``cast(array<float> as array<double>)`` applies the identical
    element cast (float→double widening is exact) inside codegen,
    where the HOF form is interpreted per element and allocates a
    lambda frame per row."""
    return v.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Σ a_i * b_i with a left-to-right double accumulator."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def dot_fixed(a: Column, b: Column, dim: int) -> Column:
    """Dot product for a KNOWN dimension, as a straight-line
    expression: ((a1*b1 + a2*b2) + ...) — no higher-order function.

    HOF lambdas (zip_with/aggregate) are interpreted per element and
    allocate an intermediate array per row; the expanded form is plain
    whole-stage-codegen arithmetic, measured ~3x faster on the
    3.7M-pair embedding-dedup verify stage at 10x sf0.1. The addition
    chain is left-associated — the SAME accumulation order as
    :func:`dot` and DuckDB's ``list_dot_product`` — so results are
    bit-identical and oracle-safe. Use only when every array has
    exactly ``dim`` elements (fixture embeddings: 64).
    """
    acc: Column | None = None
    for i in range(1, dim + 1):
        term = F.element_at(a, i) * F.element_at(b, i)
        acc = term if acc is None else acc + term
    assert acc is not None
    return acc


def sq_dist_fixed(a: Column, b: Column, dim: int) -> Column:
    """Σ (a_i - b_i)^2 for a KNOWN dimension as straight-line codegen
    arithmetic — same left-associated accumulation order as the HOF
    form (zip_with + aggregate) and DuckDB's generate_series fold, so
    results are bit-identical and oracle-safe (see :func:`dot_fixed`
    for the measured ~3x win over interpreted HOF lambdas)."""
    acc: Column | None = None
    for i in range(1, dim + 1):
        d = F.element_at(a, i) - F.element_at(b, i)
        term = d * d
        acc = term if acc is None else acc + term
    assert acc is not None
    return acc


def _check_dim(dim: int) -> None:
    if dim < 1:
        raise ValueError(f"vector dimension must be >= 1, got {dim}")


def sql_dot(a: str, b: str, dim: int) -> str:
    """Straight-line left-associated dot product as a Spark-SQL
    FRAGMENT — the SQL twin of :func:`dot_fixed` (same accumulation
    order as ``dot`` and DuckDB's list_dot_product, so results are
    bit-identical; for self-dots it also equals the HOF ``norm`` fold
    bit-for-bit because IEEE 0.0 + t == t). Parses in ONE py4j call
    where the Column form pays ~3*dim JVM round trips of pure plan
    construction (r15: that construction was up to 90% of the wall
    time of the small similarity queries). Raises ValueError on
    ``dim < 1``, which would otherwise emit the unparseable ``()``."""
    _check_dim(dim)
    return (
        "("
        + " + ".join(
            f"element_at({a}, {i}) * element_at({b}, {i})"
            for i in range(1, dim + 1)
        )
        + ")"
    )


def sql_sqdist(a: str, b: str, dim: int) -> str:
    """Straight-line left-associated squared distance as a Spark-SQL
    fragment — the SQL twin of :func:`sq_dist_fixed`; see
    :func:`sql_dot` for the convention and why. Raises ValueError on
    ``dim < 1``."""
    _check_dim(dim)
    return (
        "("
        + " + ".join(
            f"(element_at({a}, {i}) - element_at({b}, {i})) * "
            f"(element_at({a}, {i}) - element_at({b}, {i}))"
            for i in range(1, dim + 1)
        )
        + ")"
    )


def sql_plane_dot(v: str, plane: list[float]) -> str:
    """<v, plane> as a SQL fragment with the plane weights inlined as
    double literals (``{x!r}D`` — repr is shortest-round-trip, the D
    literal parses correctly rounded, the established inline-literal
    convention). The fold is the SAME HOF ``aggregate(zip_with(...))``
    as :func:`dot` — bit-identical by construction — NOT a straight-
    line expansion: bits*dim expanded terms per bucket column blew the
    janino 64KB method limit, and a failed compile disables
    whole-stage codegen for the WHOLE stage (measured 9x slower on
    ann_lsh_topk — the r15 negative result that pinned this form).

    Raises ValueError on a non-finite weight: ``inf``/``nan`` reprs
    are not Spark double literals, so the fragment would fail to parse
    far from the caller."""
    bad = [x for x in plane if not math.isfinite(x)]
    if bad:
        raise ValueError(
            f"sql_plane_dot: plane weights must be finite, got {bad[0]!r}"
        )
    arr = "array(" + ", ".join(f"{x!r}D" for x in plane) + ")"
    return (
        f"aggregate(zip_with({v}, {arr}, (x, y) -> x * y), "
        "0.0D, (acc, x) -> acc + x)"
    )


def sql_hyperplane_bucket(v: str, planes: list[list[float]]) -> str:
    """SQL-fragment twin of :func:`hyperplane_bucket` — ONE parsed
    string instead of ~(dim + 3) py4j Column round trips PER PLANE of
    pure driver-side plan construction; per-row execution is the same
    interpreted HOF fold as the Column form (see :func:`sql_plane_dot`
    for why a straight-line expansion is NOT safe at bits x dim
    terms). Integer bit sum and the >= 0 sign test are exact, so
    buckets are bit-identical to the Column form. Raises ValueError on
    an empty ``planes`` list, which would otherwise emit ``()``."""
    if not planes:
        raise ValueError("sql_hyperplane_bucket: planes must be non-empty")
    return (
        "("
        + " + ".join(
            f"(CASE WHEN {sql_plane_dot(v, plane)} >= 0 "
            f"THEN {1 << j} ELSE 0 END)"
            for j, plane in enumerate(planes)
        )
        + ")"
    )


def sql_norm(a: str, dim: int) -> str:
    """``sqrt(<a, a>)`` as a straight-line SQL fragment — the twin of
    :func:`norm` (bit-identical: same self-dot fold, sqrt correctly
    rounded in both forms)."""
    return f"sqrt({sql_dot(a, a, dim)})"


def sql_cosine(a: str, b: str, dim: int) -> str:
    """``dot/(norm*norm)`` as ONE straight-line SQL fragment — the
    twin of :func:`cosine`: the exact same double ops in the exact
    same order, but whole-stage-codegen arithmetic instead of three
    interpreted HOF folds allocating intermediate arrays per row."""
    return f"({sql_dot(a, b, dim)} / ({sql_norm(a, dim)} * {sql_norm(b, dim)}))"


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def sign_bucket(v: Column, n_bits: int = 8) -> Column:
    """Axis-aligned sign-pattern bucket — pedagogical baseline ONLY.

    Axis-aligned planes are not random hyperplanes and the bit count
    is fixed; use ``hyperplane_bucket`` (seeded random projections
    over all dims, scalable bit count, multi-table) as the real ANN
    scale path.
    """
    bucket = F.lit(0)
    for i in range(n_bits):
        bit = F.when(F.element_at(v, i + 1) >= 0, F.lit(1 << i)).otherwise(
            F.lit(0)
        )
        bucket = bucket + bit
    return bucket


def rademacher_planes(
    n_planes: int, dim: int, seed: int = 20240813
) -> list[list[float]]:
    """Seeded ±1 hyperplane normals over ALL dims (Rademacher LSH).

    Deterministic so the DuckDB oracle can embed the identical
    literals; ±1 projections are a valid random-hyperplane family for
    cosine LSH (sign of <v, w> with w_i = ±1 i.i.d.) and keep the
    dot products exact in float.

    Sizing at scale: bits per table ≈ log2(N / target_bucket_size) —
    e.g. N=1e9, buckets of ~1e4 -> 17 bits; recall is recovered with
    multiple tables (the L in classic LSH), not fewer bits.
    """
    import random

    rng = random.Random(seed)
    return [
        [1.0 if rng.random() < 0.5 else -1.0 for _ in range(dim)]
        for _ in range(n_planes)
    ]


def derive_lsh_params(
    n_vectors: int,
    target_bucket: int = 128,
    min_bits: int = 4,
    max_bits: int = 24,
    min_tables: int = 2,
) -> tuple[int, int]:
    """Corpus-size-derived (bits, tables) for hyperplane LSH.

    bits ≈ log2(N / target_bucket) keeps the EXPECTED bucket occupancy
    near ``target_bucket`` at any corpus size (1e3 docs -> 4 bits,
    1e9 -> 23), so the per-bucket candidate join never degenerates
    into all-pairs as N grows. More bits lower per-table recall
    (P[same bucket] = (1 - θ/π)^bits), so tables grow with bits —
    one extra table per 4 bits over the floor — to buy recall back.
    """
    import math

    n = max(int(n_vectors), 1)
    # floor(x + 0.5), not round(): the oracles pin FLOOR(LOG2(..)+0.5)
    # (half-up), while Python round() is banker's at .5. log2(n/t) is
    # never exactly .5 for rational n/t mathematically, but at corpus
    # sizes beyond ~2^48 the DOUBLE log2 can land on an exact .5 ulp,
    # where the two conventions pick different bit widths — mirror the
    # SQL literally (same convention as the IVF/IMI k-sizing helpers).
    bits = (
        min_bits
        if n <= target_bucket
        else math.floor(math.log2(n / target_bucket) + 0.5)
    )
    bits = max(min_bits, min(max_bits, bits))
    tables = max(min_tables, 1 + bits // 4)
    return bits, tables


def hyperplane_bucket(v: Column, planes: list[list[float]]) -> Column:
    """LSH bucket id: Σ 2^j * [<v, plane_j> >= 0] over random planes."""
    bucket = F.lit(0)
    for j, plane in enumerate(planes):
        w = F.array(*[F.lit(x) for x in plane])
        bit = F.when(dot(v, w) >= 0, F.lit(1 << j)).otherwise(F.lit(0))
        bucket = bucket + bit
    return bucket
