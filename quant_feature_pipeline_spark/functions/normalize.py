"""W9/W13 — normalization expressions used by the feature plans.

- momentum tanh compression: ``tanh(x*30)`` (`step5_featueres_unified.py:513-526`)
- RSI reshape to [-1, 1]: ``clip(x/80, -1, 1)`` (`step5_featueres_unified.py:942-946`)
- market-state threshold (W13): supertrend_direction >= 0 → 1 else -1

The winsorize+tanh (W8) and power-calibration (W10) steps need global
statistics computed once and broadcast (train/serve determinism — the
reference persists fixed per-period γ/quantiles,
`congfigs/step5_mapping.yaml`). The flagship computes them in its stats
pass and persists them in ``FlagshipStats`` (plans/flagship.py); the
``winsorize_tanh`` and ``power_calibration`` gate queries compute theirs
inline in ``__spark_entry__.py``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..config import MOM_TANH_SCALE


def tanh_compress(col: Column) -> Column:
    return F.tanh(col * MOM_TANH_SCALE)


def rsi_unit(col: Column) -> Column:
    """RSI reshaped from [-100, 100] to [-1, 1]: divided by 80 (the
    reference divisor, `step5_featueres_unified.py:942-946`), then clipped."""
    return F.least(F.greatest(col / 80.0, F.lit(-1.0)), F.lit(1.0))


def market_state(col: Column) -> Column:
    """W13 (`step5_featueres_unified.py:266-289`)."""
    return F.when(col >= 0, F.lit(1.0)).otherwise(F.lit(-1.0))
