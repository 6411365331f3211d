"""Distance metrics as pure Catalyst Column expressions.

All seven reference metrics (vicinity/utils.py:58-65) are expressed
with built-in higher-order functions (`zip_with` + `aggregate`) so they
run inside the JVM with no Python boundary crossing — the hot path of
every k-NN / radius / similarity-join plan stays in whole-stage codegen
territory (SURVEY.md §2.4 S1-S11).

Numeric determinism: every kernel casts elements to double *before*
arithmetic and folds strictly left-to-right from 0.0 (`aggregate`
semantics), so results are bit-identical to any engine that evaluates
the same left-associated double chain — which is exactly how the DuckDB
oracle SQL in __spark_entry__.py is generated.

Reference kernels mirrored:
- cosine = 1 - x̂·v̂            (basic.py:218-222; build-time normalize basic.py:216)
- euclidean = sqrt(clip(‖x‖²+‖v‖²−2x·v, 0))   (basic.py:241-247)
- manhattan = Σ|x−v|           (pynndescent.py:24,49-51)
- inner_product = 1 − x·v      (usearch convention: similarity → distance)
- l2sq = euclidean²            (usearch.py:27-31)
- hamming = Σ 1[x≠v]           (usearch.py:27-33)
- tanimoto = 1 − x·v/(‖x‖²+‖v‖²−x·v)  (usearch.py:27-33)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from vicinity_spark.datatypes import Metric


def _as_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def _fold_sum(arr: Column) -> Column:
    """Strict left-to-right sum of a double array starting at 0.0."""
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def _chain_sum(terms: "list[Column]") -> Column:
    """Left-nested + chain: ((t1+t2)+t3)+… — IEEE-identical to a fold
    from 0.0 (0.0 + t1 is exact), but expressed as plain binary ops that
    stay inside whole-stage codegen. Spark's higher-order functions are
    CodegenFallback (interpreted per element), so for a known dim the
    chain form is ~10-50× faster on wide joins."""
    acc = terms[0]
    for t in terms[1:]:
        acc = acc + t
    return acc


def _el(v: Column, i: int) -> Column:
    return F.element_at(v, i).cast("double")


# ---- Spark-SQL string generation (fast plan construction) -----------
# Building a dim-64 chain out of Column objects costs ~1000 py4j
# roundtrips per query (~1-2 s of pure driver overhead). When both
# operands are plain column names we emit the identical expression as
# ONE SQL string and parse it with a single F.expr call. The parser
# produces the same left-associated Add tree, so values are unchanged.
# Double literals carry the D suffix (bare 0.0 parses as DECIMAL).

def _el_sql(name: str, i: int) -> str:
    return f"CAST(element_at(`{name}`, {i}) AS DOUBLE)"


def _dot_sql(a: str, b: str, dim: int) -> str:
    return "(" + " + ".join(f"({_el_sql(a, i)} * {_el_sql(b, i)})" for i in range(1, dim + 1)) + ")"


def _sqnorm_sql(a: str, dim: int) -> str:
    return "(" + " + ".join(f"({_el_sql(a, i)} * {_el_sql(a, i)})" for i in range(1, dim + 1)) + ")"


def _l2sq_sql(a: str, b: str, dim: int) -> str:
    return (
        "("
        + " + ".join(
            f"(({_el_sql(a, i)} - {_el_sql(b, i)}) * ({_el_sql(a, i)} - {_el_sql(b, i)}))"
            for i in range(1, dim + 1)
        )
        + ")"
    )


def _distance_sql(metric: Metric, a: str, b: str, dim: int) -> str:
    if metric is Metric.COSINE:
        denom = f"(SQRT({_sqnorm_sql(a, dim)}) * SQRT({_sqnorm_sql(b, dim)}))"
        sim = f"(CASE WHEN {denom} = 0.0D THEN 0.0D ELSE ({_dot_sql(a, b, dim)} / {denom}) END)"
        return f"(1.0D - {sim})"
    if metric is Metric.EUCLIDEAN:
        return f"SQRT(GREATEST({_l2sq_sql(a, b, dim)}, 0.0D))"
    if metric is Metric.L2_SQUARED:
        return _l2sq_sql(a, b, dim)
    if metric is Metric.MANHATTAN:
        return (
            "("
            + " + ".join(f"ABS({_el_sql(a, i)} - {_el_sql(b, i)})" for i in range(1, dim + 1))
            + ")"
        )
    if metric is Metric.INNER_PRODUCT:
        return f"(1.0D - {_dot_sql(a, b, dim)})"
    if metric is Metric.HAMMING:
        return (
            "("
            + " + ".join(
                f"(CASE WHEN {_el_sql(a, i)} <> {_el_sql(b, i)} THEN 1.0D ELSE 0.0D END)"
                for i in range(1, dim + 1)
            )
            + ")"
        )
    if metric is Metric.TANIMOTO:
        dot = _dot_sql(a, b, dim)
        denom = f"(({_sqnorm_sql(a, dim)} + {_sqnorm_sql(b, dim)}) - {dot})"
        sim = f"(CASE WHEN {denom} = 0.0D THEN 0.0D ELSE ({dot} / {denom}) END)"
        return f"(1.0D - {sim})"
    raise ValueError(metric)


def dot_product(a: Column, b: Column, dim: "int | None" = None) -> Column:
    if dim and isinstance(a, str) and isinstance(b, str):
        return F.expr(_dot_sql(a, b, dim))
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    if dim:
        return _chain_sum([_el(a, i) * _el(b, i) for i in range(1, dim + 1)])
    return _fold_sum(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")))


def sq_norm(v: "Column | str", dim: "int | None" = None) -> Column:
    """Squared L2 norm — the materialized column the euclidean expansion
    reuses (reference precomputes these: basic.py:235-239)."""
    if dim and isinstance(v, str):
        return F.expr(_sqnorm_sql(v, dim))
    v = F.col(v) if isinstance(v, str) else v
    if dim:
        return _chain_sum([_el(v, i) * _el(v, i) for i in range(1, dim + 1)])
    return _fold_sum(F.transform(v, lambda x: x.cast("double") * x.cast("double")))


def l2_norm(v: "Column | str", dim: "int | None" = None) -> Column:
    return F.sqrt(sq_norm(v, dim))


def l1_distance(a: Column, b: Column, dim: "int | None" = None) -> Column:
    if dim:
        return _chain_sum([F.abs(_el(a, i) - _el(b, i)) for i in range(1, dim + 1)])
    return _fold_sum(F.zip_with(a, b, lambda x, y: F.abs(x.cast("double") - y.cast("double"))))


def normalize_expr(v: Column) -> Column:
    """Unit-normalize; zero vectors map to zero (vicinity/utils.py:9-42)."""
    n = l2_norm(v)
    return F.when(n == 0.0, _as_double(v)).otherwise(
        F.transform(v, lambda x: x.cast("double") / n)
    )


def cosine_distance(a: Column, b: Column, dim: "int | None" = None) -> Column:
    """1 − cos(a, b); zero vectors get distance 1 (normalize(0)=0 ⇒ dot 0)."""
    denom = l2_norm(a, dim) * l2_norm(b, dim)
    sim = F.when(denom == 0.0, F.lit(0.0)).otherwise(dot_product(a, b, dim) / denom)
    return F.lit(1.0) - sim


def l2_squared_distance(a: Column, b: Column, dim: "int | None" = None) -> Column:
    if dim:
        return _chain_sum(
            [(_el(a, i) - _el(b, i)) * (_el(a, i) - _el(b, i)) for i in range(1, dim + 1)]
        )
    return _fold_sum(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        )
    )


def euclidean_distance(a: Column, b: Column, dim: "int | None" = None) -> Column:
    """sqrt of clipped squared distance — clip mirrors basic.py:245-246."""
    return F.sqrt(F.greatest(l2_squared_distance(a, b, dim), F.lit(0.0)))


def inner_product_distance(a: Column, b: Column, dim: "int | None" = None) -> Column:
    return F.lit(1.0) - dot_product(a, b, dim)


def hamming_distance(a: Column, b: Column, dim: "int | None" = None) -> Column:
    if dim:
        return _chain_sum(
            [
                F.when(_el(a, i) != _el(b, i), 1.0).otherwise(0.0)
                for i in range(1, dim + 1)
            ]
        )
    return _fold_sum(
        F.zip_with(
            a, b, lambda x, y: F.when(x.cast("double") != y.cast("double"), 1.0).otherwise(0.0)
        )
    )


def tanimoto_distance(a: Column, b: Column, dim: "int | None" = None) -> Column:
    d = dot_product(a, b, dim)
    denom = sq_norm(a, dim) + sq_norm(b, dim) - d
    sim = F.when(denom == 0.0, F.lit(0.0)).otherwise(d / denom)
    return F.lit(1.0) - sim


_DISTANCE_FNS = {
    Metric.COSINE: cosine_distance,
    Metric.EUCLIDEAN: euclidean_distance,
    Metric.MANHATTAN: l1_distance,
    Metric.INNER_PRODUCT: inner_product_distance,
    Metric.L2_SQUARED: l2_squared_distance,
    Metric.HAMMING: hamming_distance,
    Metric.TANIMOTO: tanimoto_distance,
}


def distance_expr(
    metric: "str | Metric", a: "Column | str", b: "Column | str", dim: "int | None" = None
) -> Column:
    """Distance between two array<numeric> columns under `metric`.

    Pass `dim` when known: the kernel is then emitted as an element_at
    chain that stays in whole-stage codegen (same IEEE result as the
    HOF fold — see _chain_sum). When both operands are plain column
    names, the chain is parsed from one SQL string (single py4j call —
    see _distance_sql) instead of ~1000 Column-API roundtrips.

    Known limit: at dim ≳ 48 the cosine/tanimoto chains (~6·dim
    arithmetic nodes) exceed the JVM's 64 KB-per-method bytecode cap,
    so whole-stage codegen falls back to non-fused operators for that
    stage ("Code grows beyond 64 KB" warning; results unchanged). The
    chain cannot be split into sub-sums without re-associating the
    IEEE order the DuckDB oracle replicates, so the trade is kept:
    these JVM-expression kernels serve the bounded exact paths
    (facade query/threshold, oracle entries), while every scale path
    (partial/grid k-NN, all ANN strategies) scores in Arrow-vectorized
    numpy kernels that codegen never sees."""
    m = Metric.from_string(metric)
    if dim and isinstance(a, str) and isinstance(b, str):
        return F.expr(_distance_sql(m, a, b, dim))
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return _DISTANCE_FNS[m](a, b, dim)


def clip_distance(d: Column) -> Column:
    """Facade-level clip to ≥ 0 (vicinity/vicinity.py:135,162).

    NULL maps back to NaN: the Arrow boundary of every Pandas kernel
    converts a NaN distance (non-finite input vector) into SQL NULL,
    and `greatest` alone would silently clip that NULL to 0.0 — a
    corrupt corpus vector masquerading as a perfect rank-1 match. The
    JVM expression paths keep NaN end-to-end; this restores the same
    value at the kernel paths' output (ranking is handled by the
    asc_nulls_last window order, which matches Spark's NaN-sorts-last
    semantics on the JVM paths)."""
    return F.when(d.isNull(), F.lit(float("nan"))).otherwise(
        F.greatest(d, F.lit(0.0))
    )
