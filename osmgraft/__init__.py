"""osmgraft — a PySpark-native spatial-join + tiling engine.

Re-expresses the query semantics of ramunasd/osmctools (reference at
/root/reference, C99 streaming tools) as an idiomatic Spark engine:
DataFrame/SQL logical plans, broadcast spatial indexes, vectorized
Arrow/pandas UDF geometry kernels, and explicit partitioning for
cluster scale. Not a port — the reference defines WHAT is computed
(PIP semantics, clipping rules, tag predicates, tile keys); the HOW
is Catalyst + Tungsten.
"""

from . import _pyworker  # noqa: F401  (zipimport cache backport)

__version__ = "0.1.0"
