"""osm_data_classification_spark — a from-scratch PySpark-native
spatial-join + tiling analytics engine.

Re-expresses the query/data-processing capabilities of the reference
repo ``geoslegend/osm-data-classification`` (a pandas/luigi OSM
contributor-classification pipeline; see SURVEY.md — the checkout at
/root/reference is empty this session, so all reference citations are
`[U]` reconstructions per SURVEY.md §0) as an idiomatic Spark
DataFrame engine, lifted to web scale per BASELINE.json:6:

- H3/S2-style hierarchical cell encoding at resolutions 5–12
  (:mod:`.geo.cells` — pure numpy bit-twiddling + JVM-side Column
  expressions, no external geo libs),
- ray-casting point-in-polygon joins against broadcast packed
  boundary indexes (:mod:`.geo.pip`, :mod:`.operators.geo_ops`),
- grid-partitioned kNN with cross-cell border expansion
  (:mod:`.operators.geo_ops`),
- raster↔vector tile aggregation + resolution-ladder rollups
  (:mod:`.operators.geo_ops`),
- the reference's analytics chain: version-chain enrichment,
  per-element/changeset/user metadata, editor normalization,
  min-max normalize → PCA → KMeans (:mod:`.operators.features`,
  :mod:`.operators.ml`),
- training-data-pipeline operators: dedup (exact/MinHash-LSH/
  SimHash/n-gram-Jaccard), text quality / language-ID /
  tokenization, multimodal binary-column plumbing
  (:mod:`.operators.dedup`, :mod:`.operators.text`,
  :mod:`.operators.multimodal`),
- per-partition lineage + checkpoint/resume (:mod:`.io`).

Everything is DataFrame-first: Catalyst plans, broadcast joins, AQE
skew handling, Arrow-vectorized pandas UDFs only where built-ins
cannot express the kernel (BASELINE.json:15 "no per-row Python").
"""

__version__ = "0.1.0"
