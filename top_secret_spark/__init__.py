"""top_secret_spark — a PySpark-native quality-filter + PII-scrub engine.

A from-scratch reimplementation of the semantics of thoughtbot/top_secret
(reference: /root/reference, v1.0.1) as Arrow-vectorized pandas UDFs and
DataFrame operators, embedded in a language-ID + perplexity + heuristic
keep/drop pipeline over audio-clip + transcript tables.

Layout:
  kernel/     pure Python/numpy/pandas — no Spark imports (unit-testable fast)
  operators/  Spark DataFrame operators wrapping the kernel (pandas UDFs,
              Column expressions, batch jobs)
  sources/    table loaders, deterministic synthetic clips generator,
              checkpoint/lineage layer
  pipeline.py the end-to-end quality-filter pipeline
"""

import os as _os

__version__ = "0.1.0"

# Spark sets this in every Python worker it starts, daemon or not; the
# driver and the no-Spark replay never see it.
if "PYTHON_WORKER_FACTORY_SECRET" in _os.environ:
    from .worker_imports import patch_zip_importers

    patch_zip_importers()
