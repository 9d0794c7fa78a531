"""elastic_surv_spark — a PySpark-native analytics + survival engine.

A from-scratch rebuild of the capabilities of the reference library
``bcebere/elastic-surv`` (survival analysis over big data) re-expressed
Spark-first: DataFrame/SQL logical plans optimized by Catalyst, Arrow-batched
Pandas UDFs only where built-ins cannot express the semantics, and a
relational / text / similarity operator surface designed for 100 TB scale.

Package layout
--------------
- ``session``    : tuned SparkSession builder + runtime config helpers
- ``sources``    : parquet star-schema sources (≡ reference ESDataset / PandasDataset scans)
- ``frame``      : SurvFrame — role-column table wrapper (≡ reference BasicDataset)
- ``functions``  : featurization (one-hot), text analysis, vector math
- ``operators``  : splits, dedup, similarity search, sessionization, as-of join
- ``metrics``    : Kaplan-Meier, time-dependent concordance, integrated Brier
- ``models``     : CoxPH / DeepHit / LogisticHazard (numpy nets over Arrow batches)
- ``optimizer``  : Hyperband successive halving
- ``streaming``  : Structured Streaming window/sessionization variants
"""

# first, before any other import: see _zipcache (Python workers import
# pyspark from pyspark.zip and re-read its directory on every task otherwise)
from elastic_surv_spark import _zipcache

_zipcache.install()

__version__ = "0.1.0"

from elastic_surv_spark.frame import SurvFrame  # noqa: E402, F401
