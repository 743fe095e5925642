"""PySpark-native fulltext indexing + BM25 query engine.

A from-scratch re-expression of the capabilities of
populationgenomics/hail-elasticsearch-pipelines: the reference ingests a
large keyed corpus, derives per-row fields through a dependency-ordered
annotation registry, aggregates an entries axis into posting-list-like
fields, and bulk-loads the result into an Elasticsearch inverted index
that serves search queries.  This engine computes that inverted index and
answers BM25 top-k queries *natively in Spark* (DataFrame/Arrow-UDF only),
over Iceberg/parquet tables of Common-Crawl-style web pages.

Layout:
    sources/    corpus readers + deterministic synthetic corpus generator
    functions/  pure column-level functions: tokenize, extract, codecs,
                field-name codec, derived-field registry, text analysis
    operators/  distributed operators: index build/merge, BM25 top-k,
                dedup (exact/minhash/simhash/jaccard), similarity search,
                multimodal plumbing
    plans/      staged pipeline runner with per-partition checkpoints,
                lineage and metrics (the reference's Luigi/_SUCCESS model)
    streaming/  incremental batch-resume notes (reference is batch-only)
"""

import logging

__version__ = "0.1.0"

# the package's one logger; the application decides where records go
log = logging.getLogger(__name__)
log.addHandler(logging.NullHandler())
