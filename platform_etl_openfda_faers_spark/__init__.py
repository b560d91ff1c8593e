"""PySpark-native analytics engine with the query/data-processing
capabilities of opentargets/platform-etl-openfda-faers.

Brand-new implementation — not a port.  The reference (Scala Spark 3.1.1,
~705 LoC) is a batch ETL that flattens OpenFDA FAERS adverse-event reports
into (drug, reaction) pairs, computes disproportionality statistics (2x2
contingency table + log-likelihood ratio, FDA LRT method) and filters them
by a Monte-Carlo-simulated critical value.  This package re-expresses every
operator Spark-first (DataFrame API, Catalyst-optimizable, AQE-friendly)
and extends the surface with the operators a 100 TB training-data pipeline
needs: dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard), similarity
search over embeddings, text analysis, multimodal binary columns, and
event-window operators that take a batch or a streaming frame alike.

Layout
------
- ``sources``    readers/writers (JSON, CSV, Parquet, MedDRA ``.asc``)
- ``functions``  column-expression helpers (normalization, LLR, text, vectors)
- ``operators``  DataFrame -> DataFrame operators (flatten, filters, joins,
                 contingency, montecarlo, meddra, sampling, dedup, similarity,
                 asof, multimodal)
- ``plans``      end-to-end pipeline composers (the reference's ETL.scala role)
- ``streaming``  event-window operators for batch or stream input, and the
                 dedup-at-ingest step over a stored index (beyond-reference)
"""

__version__ = "0.1.0"
