"""Vector kernel expressions — the scalar layer of the reference
(`/root/reference/src/vector.rs:8-36`, `/root/reference/src/hyperplane.rs:9-11`)
re-expressed as pure Catalyst higher-order functions. Zero Python UDFs:
the hot path (distance re-rank of candidates, O11 at
``src/lib.rs:137-140``) never crosses the Python boundary. It is not
compiled code, though: ``ZipWith``, ``ArrayAggregate`` and
``ArrayTransform`` implement ``CodegenFallback`` in Spark 4.1.2, so
whole-stage codegen calls out to the interpreter, which evaluates
these kernels element by element.

Determinism contract: all arithmetic is IEEE double with a sequential
left-to-right fold (``F.aggregate``), which is bit-identical to the
DuckDB oracle's ``list_reduce(list_transform(list_zip(...)))`` on the
same float inputs. The reference computes in f32 end-to-end
(``src/vector.rs:33-36``); we deliberately use double (SURVEY §1.2) —
correctness is defined against the SQL oracle, not against f32 rounding.
"""

from __future__ import annotations

from pyspark.sql import Column
import pyspark.sql.functions as F

__all__ = [
    "vec_f64",
    "dot",
    "sq_euc_dist",
    "l2_norm",
    "cosine_sim",
    "sub_vec",
    "avg_vec",
    "point_is_above",
]


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def vec_f64(c: Column | str) -> Column:
    """ARRAY<FLOAT> → ARRAY<DOUBLE> (exact widening; float→double is lossless)."""
    return F.transform(_col(c), lambda x: x.cast("double"))


def dot(a: Column | str, b: Column | str) -> Column:
    """Σ aᵢ·bᵢ — `dot_product`, ``/root/reference/src/vector.rs:20-23``.

    Sequential fold from 0.0 so the sum order matches the oracle exactly.
    """
    prods = F.zip_with(_col(a), _col(b), lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def sq_euc_dist(a: Column | str, b: Column | str) -> Column:
    """Σ (aᵢ−bᵢ)² — `sq_euc_dis`, ``/root/reference/src/vector.rs:33-36``."""
    diffs = F.zip_with(
        _col(a),
        _col(b),
        lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double")),
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a: Column | str) -> Column:
    """√(Σ aᵢ²) — used for display-scale distances (`src/main.rs:90` prints
    √distance) and as the cosine denominator."""
    return F.sqrt(dot(a, a))


def cosine_sim(a: Column | str, b: Column | str) -> Column:
    """dot(a,b) / (‖a‖·‖b‖). Not in the reference (it is pure-Euclidean);
    required by the similarity-search / near-dup surface."""
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def sub_vec(a: Column | str, b: Column | str) -> Column:
    """Element-wise a − b. NOTE the reference's `subtract_from` has the
    mirrored argument order — `self` is subtracted FROM the arg
    (``/root/reference/src/vector.rs:8-12``); callers here pass operands
    in natural order."""
    return F.zip_with(
        _col(a), _col(b), lambda x, y: x.cast("double") - y.cast("double")
    )


def avg_vec(a: Column | str, b: Column | str) -> Column:
    """Element-wise midpoint — `avg`, ``/root/reference/src/vector.rs:14-18``."""
    return F.zip_with(
        _col(a),
        _col(b),
        lambda x, y: (x.cast("double") + y.cast("double")) / F.lit(2.0),
    )


def point_is_above(coeffs: Column | str, constant: Column, point: Column | str) -> Column:
    """n·x + c ≥ 0 — `point_is_above`, ``/root/reference/src/hyperplane.rs:9-11``.

    Ties go "above" (>= 0), preserving the reference's split convention
    (SURVEY §1.5.4) so index builds are deterministic."""
    return (dot(coeffs, point) + constant) >= F.lit(0.0)
