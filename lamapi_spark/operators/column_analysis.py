"""Column analysis (U2) — the reference's column-classifier service
re-expressed as one dataflow over a (col_name, value) cell table.

The reference delegates per-column typing to the external
``column-classifier`` package and adapts its result to
{index_column, tag NE|LIT, classification, datatype, probabilities}
(api/model/data_retrievers/column_analysis.py:24-85, NE_types =
PERSON/ORGANIZATION/LOCATION/OTHER, lit_types = NUMBER/DATE/STRING).
The package ships an opaque model; the batch twin replaces it with the
two deterministic signals this engine already owns:

1. **LIT typing** — the F5 literal-recognizer cascade per cell, folded
   into the service's three lit buckets (INTEGER/FLOAT -> NUMBER,
   DATE/DATETIME/TIME -> DATE, else STRING).
2. **NE typing** — for STRING-majority columns, cells probe the label
   dictionary on ``name_norm`` (the same join shape as the lookup; with
   a bucketed names artifact this is shuffle-free on the dictionary
   side) and the column votes by the matched entities' ``NERtype``
   (PERS->PERSON, ORG->ORGANIZATION, LOC->LOCATION, else OTHER),
   occurrence-weighted. A STRING column with zero dictionary hits stays
   LIT STRING.

``probabilities`` is the decision's per-class ratio map (over ALL cells
of the column), serialized as a sorted ``CLASS:ratio`` string so the
output is hashable across engines. Scale: two hash aggregations keyed by
(col, class) + one dictionary join on distinct cell values — no UDFs,
no skew keys (columns are few; the dictionary join key is the cell
value, guarded by the usual distinct-first dedup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lamapi_spark.functions import clean_str
from lamapi_spark.functions.literals import classify_literal

_LIT_FOLD = {"INTEGER": "NUMBER", "FLOAT": "NUMBER",
             "DATE": "DATE", "DATETIME": "DATE", "TIME": "DATE"}
_NER_MAP = {"PERS": "PERSON", "ORG": "ORGANIZATION", "LOC": "LOCATION"}


def _fold_lit(c):
    expr = None
    for src, dst in _LIT_FOLD.items():
        expr = (F.when(c == src, F.lit(dst)) if expr is None
                else expr.when(c == src, F.lit(dst)))
    return expr.otherwise(F.lit("STRING"))


def _map_ner(c):
    expr = None
    for src, dst in _NER_MAP.items():
        expr = (F.when(c == src, F.lit(dst)) if expr is None
                else expr.when(c == src, F.lit(dst)))
    return expr.otherwise(F.lit("OTHER"))


def classify_columns(cells: DataFrame, label_dict: DataFrame,
                     col_col: str = "col_name", val_col: str = "v") -> DataFrame:
    """(col_name, v) cells -> one row per column:
    (col_name, tag, classification, datatype, probability, probabilities).

    ``label_dict`` needs (name_norm, NERtype, popularity); ties in the
    per-name NERtype choice break by (popularity desc, NERtype asc)."""
    cells = cells.select(F.col(col_col).alias("col_name"),
                         F.col(val_col).alias("v"))
    totals = cells.groupBy("col_name").agg(F.count("*").alias("n_total"))

    lit_counts = (
        cells.select("col_name", _fold_lit(classify_literal("v")).alias("cls"))
        .groupBy("col_name", "cls").agg(F.count("*").alias("cnt"))
    )
    w_col = Window.partitionBy("col_name")
    w_rank = w_col.orderBy(F.desc("cnt"), F.asc("cls"))
    lit_major = (
        lit_counts
        .withColumn("_rn", F.row_number().over(w_rank))
        .withColumn("probabilities", F.concat_ws(" ", F.sort_array(F.collect_list(
            F.concat_ws(":", "cls", F.col("cnt").cast("string"))).over(w_col))))
        .filter(F.col("_rn") == 1)
        .select("col_name", F.col("cls").alias("lit_class"),
                F.col("cnt").alias("lit_cnt"), "probabilities")
    )

    # NE vote: distinct cell values probe the dictionary once, the best
    # NERtype per name is chosen deterministically, then occurrence
    # counts weight the vote back on the full cell table.
    name_ner = F.broadcast(
        label_dict.select("name_norm", "NERtype", "popularity")
        .filter(F.col("NERtype").isNotNull())
        .withColumn("_rn", F.row_number().over(
            Window.partitionBy("name_norm").orderBy(
                F.desc("popularity"), F.asc("NERtype"))))
        .filter(F.col("_rn") == 1)
        .select("name_norm", "NERtype")
    )
    ne_counts = (
        cells.select("col_name", clean_str("v").alias("name_norm"))
        .join(name_ner, "name_norm")
        .select("col_name", _map_ner(F.col("NERtype")).alias("ne_class"))
        .groupBy("col_name", "ne_class").agg(F.count("*").alias("ne_cnt"))
    )
    ne_major = (
        ne_counts
        .withColumn("_rn", F.row_number().over(
            w_col.orderBy(F.desc("ne_cnt"), F.asc("ne_class"))))
        .withColumn("ne_probabilities", F.concat_ws(" ", F.sort_array(F.collect_list(
            F.concat_ws(":", "ne_class", F.col("ne_cnt").cast("string"))).over(w_col))))
        .filter(F.col("_rn") == 1)
        .select("col_name", "ne_class", "ne_cnt", "ne_probabilities")
    )

    is_ne = (F.col("lit_class") == "STRING") & F.col("ne_class").isNotNull()
    return (
        lit_major
        .join(totals, "col_name")
        .join(ne_major, "col_name", "left")
        .select(
            "col_name",
            F.when(is_ne, F.lit("NE")).otherwise(F.lit("LIT")).alias("tag"),
            F.when(is_ne, F.col("ne_class")).otherwise(F.col("lit_class"))
            .alias("classification"),
            F.when(is_ne, F.col("ne_class")).otherwise(F.col("lit_class"))
            .alias("datatype"),
            F.bround(
                F.when(is_ne, F.col("ne_cnt")).otherwise(F.col("lit_cnt"))
                / F.col("n_total"), 3).alias("probability"),
            F.when(is_ne, F.col("ne_probabilities"))
            .otherwise(F.col("probabilities")).alias("probabilities"),
        )
    )
