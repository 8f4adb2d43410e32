"""metadata_enhanced_pretrain_datapipeline_spark — a PySpark-native analytics engine.

A brand-new engine exposing the query / data-processing capabilities of the
reference document-ETL pipeline (fan1dy/metadata-enhanced-pretrain-datapipeline,
a datatrove-based pretraining-data pipeline) as idiomatic PySpark DataFrame
transformations: document readers/writers, filters with exclusion sinks,
PII formatting, ML annotators, threshold estimation, segmentation,
tokenization/packing — plus the large-scale-pipeline extensions
(deduplication, similarity search, text analysis, streaming windows).

Design stance (SURVEY.md §1.5/§4): declare logical plans with the
DataFrame/SQL API, let Catalyst+Tungsten pick physical strategies; drop to
Arrow-batched pandas UDFs only for genuinely imperative semantics
(model inference, stateful packing, running-length segmentation).
"""

from metadata_enhanced_pretrain_datapipeline_spark import zipcache
from metadata_enhanced_pretrain_datapipeline_spark.session import get_spark, tune_for_oracle

# runs in every Python worker that unpickles a package function
zipcache.install()

__all__ = ["get_spark", "tune_for_oracle"]

__version__ = "0.1.0"
