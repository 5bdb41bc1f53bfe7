"""netml_spark — a from-scratch PySpark-native feature-engineering engine.

Recasts the capabilities of noise-lab/netml (reference at /root/reference,
see SURVEY.md) as declarative, Catalyst-optimizable DataFrame operators:

- L1 relational temporal core: gap sessionization, grid-aligned interval
  re-split, as-of join, backfill (``operators.sessionize``,
  ``operators.asof``).
- L2 feature kernels: the reference's per-flow numeric loops as Arrow
  scalar UDFs over flat value buffers (IAT, IAT_SIZE, STATS, SAMP_NUM,
  SAMP_SIZE, FFT, header; one ArrowEvalPython node per select), SIZE as a
  native cast (``operators.kernels``), plus a Catalyst-native STATS
  aggregate over event rows (``operators.stats``).
- L3 pipeline: ``FeaturePlan`` replicating the reference's
  ``flow2features`` dispatch (``pipeline``), checkpoint manifest
  (``manifest``), streaming twin (``streaming``).
- Training-data ops: dedup (exact/minhash/simhash/jaccard), similarity
  search, text analysis (``operators.dedup`` etc.).

Everything here is public-knowledge PySpark; no code is copied from the
reference (its engine is row-at-a-time single-process Python — see
SURVEY.md §1.4; ours is columnar DataFrame/Arrow end to end).
"""

__version__ = "0.1.0"

from netml_spark.session import get_spark  # noqa: F401
