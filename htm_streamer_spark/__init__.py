"""htm_streamer_spark — a from-scratch PySpark-native schema + constraint
validation engine over tables of pre-tokenized training sequences.

Re-expresses the capabilities of the reference engine
(gotham29/htm_streamer — a per-series streaming anomaly detector) as
idiomatic Spark DataFrame operators:

- per-column stats (min/max/null-rate/approx-distinct) — reference analog:
  the sampling-phase min/max accumulation (config/config.py:178-196)
- token-array invariants (n_tok == len(tokens), token-id range) — reference
  analog: encoder width-by-construction (model/htm_model.py:34) and the
  spatial range check (model/htm_model.py:305-312)
- doc_id uniqueness via salted two-phase hash aggregation — reference
  analog: duplicate-dataset NameError (driver.py:46-48)
- referential check of `source` against the allowed-values list via a
  codegen'd ``isin`` — reference analog: labels lookup (driver.py:28-39)
- distribution-drift detection (token-frequency + n_tok histograms, KL/PSI
  vs a checkpointed baseline) — reference analog: the HTM anomaly
  likelihood (data/anomalylikelihood.py:424-467)
- per-partition pass/fail verdicts with probation + hard-fail override —
  reference analog: spatial-anomaly override (model/htm_model.py:385-388)
  and the probationary flat 0.5 (anomalylikelihood.py:440-442)
- checkpointed per-partition lineage + metrics, resumable — reference
  analog: pickle-per-row state + config-as-checkpoint
  (htm_stream.py:135-155)

All compute is DataFrame/SQL expressions (whole-stage codegen) with
vectorized Arrow pandas UDFs only where expressions cannot reach.
"""

__version__ = "0.1.0"

from htm_streamer_spark.config import EngineConfig, validate_config
from htm_streamer_spark.session import get_spark

__all__ = ["EngineConfig", "validate_config", "get_spark", "__version__"]
