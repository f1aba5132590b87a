"""Array (intra-row vector) expressions (SURVEY.md §2.5 W3/W4, §2.6 O1,
§2.4 A1/A11).

The reference's per-profile level arrays (CT/SR/IDX, 64 levels) live as
NumPy slices inside an AOS record (reference: src/argostats/aos.py:97-109)
and are reduced with ufuncs: midpoints/diffs over depth (atlas.py:316-317),
cumulative sums (atlas.py:323-324), weighted sums (atlas.py:93-96). In
Spark these arrays are ``ArrayType`` columns and the same reductions are
higher-order functions — JVM-side, no explode, no UDF.

Also hosts the vector math used by the similarity-search operators
(dot product / norms / cosine) over embedding columns.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(x) -> Column:
    return F.col(x) if isinstance(x, str) else x


def array_mid(arr) -> Column:
    """Adjacent midpoints 0.5*(x[1:]+x[:-1]) (reference atlas.py:316-317)."""
    a = _c(arr)
    n = F.size(a)
    return F.zip_with(
        F.slice(a, 1, n - 1), F.slice(a, 2, n - 1), lambda x, y: (x + y) / F.lit(2.0)
    )


def array_diff(arr) -> Column:
    """np.diff equivalent: x[1:] - x[:-1] (reference atlas.py:320-324)."""
    a = _c(arr)
    n = F.size(a)
    return F.zip_with(F.slice(a, 1, n - 1), F.slice(a, 2, n - 1), lambda x, y: y - x)


def array_cumsum(arr) -> Column:
    """Inclusive prefix sum over an array column (reference atlas.py:
    323-324 ``np.cumsum``) via an aggregate() scan — no explode."""
    a = _c(arr)
    return F.aggregate(
        a,
        F.struct(
            F.lit(0.0).cast("double").alias("run"),
            F.array().cast("array<double>").alias("out"),
        ),
        lambda acc, x: F.struct(
            (acc["run"] + x.cast("double")).alias("run"),
            F.concat(acc["out"], F.array(acc["run"] + x.cast("double"))).alias("out"),
        ),
        lambda acc: acc["out"],
    )


def array_weighted_sum(values, weight) -> Column:
    """Scale an array by a scalar weight column (per-profile kernel weight,
    reference atlas.py:104-113): w * x[k] for every level k."""
    return F.transform(_c(values), lambda x: x * _c(weight))


def dot_product(a, b) -> Column:
    """Σ a[k]·b[k] via zip_with + aggregate (JVM-side, codegen-able)."""
    prods = F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0).cast("double"), lambda acc, x: acc + x)


def l2_norm(a) -> Column:
    return F.sqrt(dot_product(a, a))


def cosine_similarity(a, b) -> Column:
    """Cosine similarity of two array<float> columns; NULL-safe via the
    guard on zero norms."""
    num = dot_product(a, b)
    den = l2_norm(a) * l2_norm(b)
    return F.when(den > F.lit(0.0), num / den)
