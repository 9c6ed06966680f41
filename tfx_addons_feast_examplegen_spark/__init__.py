"""tfx_addons_feast_examplegen_spark — a PySpark-native analytics engine.

A from-scratch rebuild of the capabilities of the reference repo
``BACtaki/tfx-addons-feast-examplegen`` (a Feast/TFX/Beam/BigQuery
query-based ExampleGen) as an idiomatic PySpark engine:

- **Point-in-time correct historical feature joins** (the reference's core
  capability, delegated to Feast at ``executor.py:87`` and compiled to a
  single BigQuery SQL statement at ``executor.py:128-129``) are rebuilt as
  native DataFrame compositions (:mod:`.operators.pit_join`).
- **Registry** of feature views / feature services (reference:
  ``component.py:67-79``, ``executor.py:53-58``) as a YAML-backed Python
  catalog (:mod:`.registry`).
- **Deterministic hash splits** (reference: delegated to TFX's
  ``BaseExampleGenExecutor`` at ``executor.py:181``) via ``xxhash64``
  (:mod:`.operators.split`).
- **tf.Example encoding** (reference: ``converters.py:50-53``) via a
  dependency-free protobuf wire-format writer (:mod:`.functions.tfexample`).
- **Scale extensions** for training-data pipelines: deduplication,
  similarity search, text analysis, multimodal column plumbing, streaming.

Everything is expressed with the DataFrame/SQL API so Catalyst + AQE pick
physical strategies (broadcast vs sort-merge, skew mitigation, partition
coalescing); Python UDFs appear only at the serialization edge.
"""

__version__ = "0.1.0"

from .registry import FeatureService, FeatureView, Registry  # noqa: F401
from .session import get_spark, register_tables  # noqa: F401
