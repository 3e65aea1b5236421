"""dremio_oss_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of dremio/dremio-oss (see /root/repo/SURVEY.md).

Architecture: declarative DataFrame/SQL plans over Spark Catalyst/Tungsten;
the reference's operator machinery (shuffles, spilling, codegen, two-phase
aggregation) is delegated to Spark. This package adds the SQL surface
(functions, dialect shims), the catalog layer (sources/views/reflections),
and the large-scale data-pipeline operators (dedup, similarity, text).
"""

from .catalog import load, register_testdata
from .session import build_spark

__version__ = "0.12.0"  # bumped per build round

__all__ = ["build_spark", "load", "register_testdata", "__version__"]
