from bdqc_spark.operators.stats import (
    fit_numeric_models,
    fit_categorical_models,
    infer_column_types,
)
from bdqc_spark.operators.joins import salted_join
from bdqc_spark.operators.topk import top_k_per_group

__all__ = [
    "fit_numeric_models",
    "fit_categorical_models",
    "infer_column_types",
    "salted_join",
    "top_k_per_group",
]
