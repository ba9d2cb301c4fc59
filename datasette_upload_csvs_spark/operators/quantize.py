"""Embedding quantization: int8 scale path for similarity search.

At 100 TB-scale corpora the ANN working set is embedding storage:
float32×D per row. Symmetric int8 quantization (per-vector scale =
max|x|/127) cuts that 4×, which is what lets an IVF/LSH index layer
(operators/similarity.py) hold its probe set in executor memory
instead of spilling. Dot products on int8 with a per-vector rescale
recover cosine to ~1e-2 — ample for candidate generation; exact
re-ranking (similarity_topk_bruteforce) runs on the float originals
for the final top-k.

Everything here is built-in array functions (transform/aggregate) —
JVM-side, no Python round trip. Rounding is floor(x/scale + 0.5)
(half-up toward +inf): well-defined identically in every engine,
unlike bankers'-vs-away round() drift.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datasette_upload_csvs_spark.functions.vector import as_double_array


def _scale(vec: Column) -> Column:
    """Per-vector symmetric scale max|x|/127 (0-vectors → scale 0)."""
    return (
        F.aggregate(vec, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x)))
        / 127.0
    )


def quantize_int8(
    df: DataFrame, vec_col: str = "embedding", keep_cols: list[str] | None = None
) -> DataFrame:
    """Add `q` (array<int> in [-127,127]) and `scale` (double).
    Dequantize as q[i]*scale. All-zero vectors quantize to zeros."""
    vec = as_double_array(F.col(vec_col))
    scale = _scale(vec)
    q = F.when(scale == 0.0, F.transform(vec, lambda x: F.lit(0))).otherwise(
        F.transform(vec, lambda x: F.floor(x / scale + 0.5).cast("int"))
    )
    cols = keep_cols if keep_cols is not None else df.columns
    return df.select(*cols, scale.alias("scale"), q.alias("q"))
