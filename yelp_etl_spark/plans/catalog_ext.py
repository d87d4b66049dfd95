"""Extension-catalog shim — the public surface of the thematic split.

Round 10 split the 17k-line monolith into `plans/ext/` theme modules
(r9 VERDICT task #6); this shim preserves the two public names every
consumer imports:

- ``EXTRA_QUERIES`` — the {name: (fn, oracle_sql, ops)} registry
  merged into ``plans.catalog.QUERIES``. Theme modules register into
  the shared collection dict at import, so its order is the theme
  modules' import order below. Nothing reads that order: the
  correctness window is an explicit tuple
  (``catalog._DRIVER_WINDOW``) placed first, and every other consumer
  looks queries up by name.
- ``copurchase_edges`` — the fixture co-purchase graph builder shared
  by q_boruvka_mst and its edge-for-edge Kruskal pytest twin.

Each theme module is append-only, like the monolith was, so diff review
stays chunk-per-operator:

- ``ext_text``       tokenization, BPE, dedup spans, collocations,
                     search, quality gates
- ``ext_ml``         clustering, embeddings/ANN, eval metrics, encodings,
                     CV splits, attribution
- ``ext_stats``      hypothesis tests, robust stats, time series,
                     sketches, drift
- ``ext_graph``      pagerank family, components, k-core/k-truss, MST,
                     walks, centrality
- ``ext_stream``     streaming windows/joins/dedup, CDC
- ``ext_lakehouse``  snapshot table ops, pipelines, scan roundtrips,
                     audits
- ``ext_containers`` binary/multimodal container walks (PNG/JPEG/GIF/
                     ZIP/WAV/TIFF/PCM)
- ``ext_misc``       privacy audits, spatial joins, skew ops, funnels,
                     the original pre-split seed block
"""

from __future__ import annotations

from yelp_etl_spark.plans.ext import (  # noqa: F401  (imports register)
    ext_containers,
    ext_graph,
    ext_lakehouse,
    ext_misc,
    ext_ml,
    ext_stats,
    ext_stream,
    ext_text,
)
from yelp_etl_spark.plans.ext._shared import EXTRA_QUERIES  # noqa: F401
from yelp_etl_spark.plans.ext.ext_graph import copurchase_edges  # noqa: F401
