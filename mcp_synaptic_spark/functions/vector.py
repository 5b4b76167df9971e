"""Vector math as pure column expressions (SURVEY.md §2.8 X17–X18).

Everything here compiles to JVM-side higher-order functions (zip_with /
aggregate) inside whole-stage codegen — no Python UDFs, no Arrow transfer, so
a cosine top-k over 100 TB of embeddings is an embarrassingly-parallel scan.

Semantics mirror the reference:
- cosine_similarity: dot/(‖a‖·‖b‖), 0.0 when either norm is 0
  (reference rag/embeddings/manager.py:69-98).
- distance_to_score: score = max(0, 1 − distance) clamped into [0,1]
  (reference rag/database/search.py:53-56; bounds models/base.py:122).

All arithmetic is done in DOUBLE regardless of the storage type (testdata
stores ARRAY<FLOAT>) so results are bit-stable against a double-precision
oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(vec: Column) -> Column:
    """Cast ARRAY<FLOAT> → ARRAY<DOUBLE> so accumulation happens in fp64."""
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ via zip_with + aggregate (sequential fold ⇒ deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity with the reference's zero-norm guard → 0.0."""
    a, b = as_double(a), as_double(b)
    na, nb = norm(a), norm(b)
    return F.when((na == 0.0) | (nb == 0.0), F.lit(0.0)).otherwise(dot(a, b) / (na * nb))


def cosine_sql(a: str, b: str) -> str:
    """SQL text of `cosine_similarity(a, b)` over SQL expressions `a`, `b`,
    term for term, so the two agree on every input, null included (a test
    pins them), built as one parsed string instead of ~20 py4j Column
    calls. Lambda variables start with `_` so they do not shadow columns."""
    def dot(x: str, y: str) -> str:
        return f"aggregate(zip_with({x}, {y}, (_x, _y) -> CAST(_x AS DOUBLE) * CAST(_y AS DOUBLE)), 0.0D, (_s, _v) -> _s + _v)"

    na, nb = f"sqrt({dot(a, a)})", f"sqrt({dot(b, b)})"
    return f"CASE WHEN {na} = 0.0D OR {nb} = 0.0D THEN 0.0D ELSE {dot(a, b)} / ({na} * {nb}) END"


# --- fixed-dimension variants (hot-path codegen) ---------------------------
#
# The HOF aggregate/zip_with fold above is interpreted per element (Catalyst
# evaluates the lambda row-by-row, element-by-element); on an N×N pairwise
# pass that dominates wall clock. When the dimension is known at plan time we
# can unroll the dot product into a flat `a[0]*b[0] + a[1]*b[1] + …`
# expression that whole-stage codegen compiles to straight-line JVM code —
# ~50× faster, and the addition order is the same sequential left fold, so
# results are bit-identical to the HOF version (and the DuckDB oracle).


def _dot_fixed_sql(a: str, b: str, dim: int) -> str:
    """SQL text of the unrolled dot over backtick-quoted column NAMES.

    `x + y + z` parses left-associative — the identical sequential fold as
    the Column-object loop below, so values are bit-for-bit the same."""
    return " + ".join(f"CAST(`{a}`[{i}] AS DOUBLE) * CAST(`{b}`[{i}] AS DOUBLE)" for i in range(dim))


def dot_fixed(a: Column | str, b: Column | str, dim: int) -> Column:
    """Σ aᵢ·bᵢ unrolled over a known dimension (sequential order ⇒ matches
    the `dot` fold bit-for-bit).

    Pass column NAMES (strings) on hot paths: the whole unrolled sum is then
    built as ONE parsed SQL expression instead of ~6·dim py4j round-trips —
    plan construction drops from seconds to milliseconds at dim=64 while the
    resolved expression tree (and therefore the result) is identical.

    With Column inputs, elements are cast to double individually — NEVER wrap
    the inputs in as_double() here: getItem on a transform() expression
    re-evaluates the whole array transform once per element (64 casts × 64
    elements), which is slower than the HOF fold it replaces. Pass plain
    column references."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(_dot_fixed_sql(a, b, dim))
    # Mixed str/Column: lift the lone string to a Column so the loop below
    # never calls .getItem on a str (latent AttributeError trap).
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    acc = a.getItem(0).cast("double") * b.getItem(0).cast("double")
    for i in range(1, dim):
        acc = acc + a.getItem(i).cast("double") * b.getItem(i).cast("double")
    return acc


def norm_fixed(a: Column | str, dim: int) -> Column:
    if isinstance(a, str):
        return F.expr(f"SQRT({_dot_fixed_sql(a, a, dim)})")
    return F.sqrt(dot_fixed(a, a, dim))


def cosine_similarity_fixed(a: Column | str, b: Column | str, dim: int) -> Column:
    """cosine_similarity with an unrolled dot — use on pairwise hot paths
    where dim is known. Pass column NAMES where possible (see dot_fixed:
    single parsed SQL expression vs thousands of py4j calls); Column inputs
    are the fallback for computed/literal vectors. Element casts keep all
    arithmetic in fp64 either way."""
    if isinstance(a, str) and isinstance(b, str):
        na, nb = f"SQRT({_dot_fixed_sql(a, a, dim)})", f"SQRT({_dot_fixed_sql(b, b, dim)})"
        return F.expr(
            f"CASE WHEN {na} = 0.0D OR {nb} = 0.0D THEN 0.0D "
            f"ELSE ({_dot_fixed_sql(a, b, dim)}) / ({na} * {nb}) END"
        )
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    na, nb = norm_fixed(a, dim), norm_fixed(b, dim)
    return F.when((na == 0.0) | (nb == 0.0), F.lit(0.0)).otherwise(
        dot_fixed(a, b, dim) / (na * nb)
    )


def probe_dim(df, vec_col: str) -> int:
    """Read the vector dimension from the first row (one tiny job)."""
    row = df.select(F.size(F.col(vec_col)).alias("d")).first()
    if row is None or row["d"] is None:
        raise ValueError(f"cannot probe dimension of empty column {vec_col!r}")
    return int(row["d"])


def distance_to_score(distance: Column) -> Column:
    """score = max(0, 1 − distance), clamped to [0, 1]."""
    return F.least(F.lit(1.0), F.greatest(F.lit(0.0), F.lit(1.0) - distance))


def l2_normalize(vec: Column) -> Column:
    """Unit-normalize (0-vector passes through unchanged).

    After normalization, cosine ≡ dot, and Euclidean distance is a monotone
    transform of cosine (‖a−b‖² = 2−2cos) — which lets MLlib's Euclidean LSH
    (BucketedRandomProjectionLSH) stand in for approximate cosine search.
    """
    v = as_double(vec)
    n = norm(v)
    return F.when(n == 0.0, v).otherwise(F.transform(v, lambda x: x / n))
