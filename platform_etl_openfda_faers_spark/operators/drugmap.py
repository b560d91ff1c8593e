"""Map raw FDA drug names to ChEMBL IDs (J2).

Reference: ``stage/OpenFdaEtl.scala:33-34`` — inner equi-join of pair rows on
``drug_name`` against the exploded synonym list.

Scale note: drug popularity is heavily skewed (blockbuster drugs are hot
keys).  The synonym map is small (~10^6 rows) -> broadcast it; if it ever
outgrows broadcast, AQE skew-join splitting handles the hot partitions
(``spark.sql.adaptive.skewJoin.enabled`` is on in session defaults).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def map_to_chembl(pairs: DataFrame, drug_list: DataFrame) -> DataFrame:
    """Inner join pair rows to ``(chembl_id, drug_name)``; unmatched names drop."""
    return pairs.join(F.broadcast(drug_list), ["drug_name"], "inner")
