"""Shared near-dup planted fixture: documents plus truncated twins (first
40 words) of every 10th doc, with id doc_id + 1_000_000 — reproduced
identically as a DuckDB SQL fragment and a Spark DataFrame so exact-Jaccard
pairs are value-checked end to end. Lives in its own module so dedup.py,
extras.py and webcur.py share one builder."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

# SQL fragment form (DuckDB oracle side)
TWINNED_SQL = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id,
           array_to_string(list_filter(string_split_regex(text, '[ \t\n\r\f\x0B]+'), w -> w <> '')[1:40], ' ') AS text
    FROM documents WHERE doc_id % 10 = 0
"""

# document-frequency cap for the exact shingle self-join: shingles seen in
# more than this many docs are dropped before the join (hot-key guard; see
# operators/dedup.py jaccard_pairs). Mirrored in the oracle SQL.
MAX_SHINGLE_DF = 64


def twinned(spark: SparkSession, sf: str) -> DataFrame:
    """Spark form of TWINNED_SQL."""
    # imported here, not at the top: queries imports every inventory
    # module, and those import this one's constants
    from ..queries import load

    d = load(spark, sf, "documents").select("doc_id", "text")
    toks = F.filter(F.split("text", "[ \\t\\n\\r\\f\\x0B]+"), lambda x: x != "")
    twins = (
        d.filter(F.col("doc_id") % 10 == 0)
        .select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.array_join(F.slice(toks, 1, 40), " ").alias("text"),
        )
    )
    return d.unionByName(twins)
