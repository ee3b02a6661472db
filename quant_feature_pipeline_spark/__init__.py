"""quant_feature_pipeline_spark — a from-scratch PySpark-native
point-in-time feature-engineering engine with the query/data-processing
capabilities of ``tuotuo512/quant-feature-pipeline`` (reference at
/root/reference, studied for WHAT to compute, not HOW).

Layout
------
- ``session``      SparkSession builder tuned for the target scale
- ``config``       timeframe parsing + pipeline config dataclasses
- ``sources``      deterministic synthetic token/bar generators, scans, sinks
- ``operators``    resample, as-of join, fill/backfill, shift, sessionize, dedup
- ``functions``    indicator kernels (window + recurrence), rank, normalize
- ``plans``        end-to-end pipeline assembly, checkpoint/resume, schema contract
- ``textops``      dedup (minhash/simhash/ngram), similarity search, text quality
- ``multimodal``   binary-column (image/audio) plumbing with stubbed decoders
- ``streaming``    structured-streaming wrappers for the micro-batch mode
- ``pyworker``     Python-worker start-up: import zips parsed once per worker
"""

from .pyworker import install as _install_zip_stamps

__version__ = "0.1.0"

# Python workers import this package when they unpickle the engine's
# Arrow kernels; from then on each task's importlib.invalidate_caches()
# re-reads only the import zips that changed.
_install_zip_stamps()
