"""CREATE MODEL / PREDICT / EXPORT MODEL / DESCRIBE MODEL execution.

Parity with the reference's ML statements (create_model.py:23-227,
predict_model.py:18-94, export_model.py:14-95, describe_model.py:14-44):
any sklearn-style class (``fit``/``predict``) named by ``model_class`` is
imported, fit on the embedded query's result, and registered. Inference is
the Spark-native path: the fitted estimator is broadcast and applied with
``mapInPandas`` so prediction streams through executors in Arrow batches —
the equivalent of the reference's ``ParallelPostFit`` wrapper
(wrappers.py:1-821) without collecting the data.

Training collects the query result to the driver (``toPandas``), matching
the reference's behavior of fitting a single in-memory estimator; at 100 TB
you would sample (``TABLESAMPLE`` in the training query) or use spark.ml —
both are available through the same statement surface.
"""

from __future__ import annotations

import importlib
import pickle
from typing import TYPE_CHECKING, Any

import pandas as pd
from pyspark.sql import DataFrame

if TYPE_CHECKING:
    from dask_sql_spark.context import Context


def _import_class(path: str) -> Any:
    module_name, _, cls_name = path.rpartition(".")
    if not module_name:
        raise ValueError(f"model_class must be a full dotted path, got {path!r}")
    return getattr(importlib.import_module(module_name), cls_name)


# driver-side fit ceiling: sklearn-style estimators need local data, but an
# unguarded collect of `SELECT * FROM 100TB_table` would hang the driver
DEFAULT_MAX_FIT_ROWS = 1_000_000


def collect_training_frame(
    df: DataFrame, max_fit_rows: int, sample: float | None = None
) -> pd.DataFrame:
    """Collect a training select to the driver with a row-count guard.

    ``sample`` (0 < f ≤ 1) subsamples executor-side first. The guard fetches
    ``max_fit_rows + 1`` rows via limit() — one extra row instead of a full
    count pass — and raises with remediation hints rather than OOMing the
    driver (the reference fits driver-side with no guard at all).
    """
    if sample is not None:
        if not 0 < sample <= 1:
            raise ValueError(f"sample must be in (0, 1], got {sample}")
        if sample < 1:
            df = df.sample(fraction=sample, seed=42)
    pdf = df.limit(max_fit_rows + 1).toPandas()
    if len(pdf) > max_fit_rows:
        raise RuntimeError(
            f"training select returned more than {max_fit_rows} rows; "
            "driver-side fit would exhaust driver memory. Reduce the select "
            "(TABLESAMPLE / WHERE), pass sample = <fraction>, or raise "
            "max_fit_rows = <n> explicitly."
        )
    return pdf


def create_model(context: "Context", name: str, kwargs: dict, select: str) -> None:
    model_class = kwargs.pop("model_class", None)
    if model_class is None:
        raise ValueError("CREATE MODEL requires model_class=...")
    target_column = kwargs.pop("target_column", "")
    wrap_fit = kwargs.pop("wrap_fit", False)
    kwargs.pop("wrap_predict", False)  # predict always streams via mapInPandas
    fit_kwargs = {
        k[len("fit_kwargs.") :]: v
        for k, v in list(kwargs.items())
        if k.startswith("fit_kwargs.")
    }
    for k in list(kwargs):
        if k.startswith("fit_kwargs."):
            del kwargs[k]

    max_fit_rows = int(kwargs.pop("max_fit_rows", DEFAULT_MAX_FIT_ROWS))
    sample = kwargs.pop("sample", None)
    sample = float(sample) if sample is not None else None

    ModelClass = _import_class(str(model_class))
    model = ModelClass(**kwargs)

    training_df = collect_training_frame(
        context.sql(select), max_fit_rows, sample
    )
    if target_column:
        X = training_df.drop(columns=[target_column])
        y = training_df[target_column]
    else:
        X, y = training_df, None

    if wrap_fit and hasattr(model, "partial_fit"):
        model.partial_fit(X, y, **fit_kwargs)
    elif y is not None:
        model.fit(X, y, **fit_kwargs)
    else:
        model.fit(X, **fit_kwargs)

    context.register_model(name, model, training_columns=list(X.columns))


def predict_model(context: "Context", name: str, select: str) -> DataFrame:
    """Append a ``target`` column from ``model.predict`` (reference
    predict_model.py:18-94), streaming batches through mapInPandas."""
    schema = context.schemas[context.schema_name]
    if name not in schema.models:
        raise RuntimeError(f"Model {name} does not exist")
    model, training_columns = schema.models[name]

    df = context.sql(select)
    missing = [c for c in training_columns if c not in df.columns]
    if missing:
        raise ValueError(
            f"PREDICT select is missing training column(s) {missing}; "
            f"model {name!r} was fit on {training_columns}"
        )
    spark = context.spark
    model_bc = spark.sparkContext.broadcast(pickle.dumps(model))
    from pyspark.sql import types as T

    # StructType.add mutates in place — never call it on df.schema
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField("target", T.DoubleType())]
    )

    def _predict(batches):
        est = pickle.loads(model_bc.value)
        for pdf in batches:
            X = pdf[training_columns]
            out = pdf.copy()
            out["target"] = pd.Series(est.predict(X), index=pdf.index).astype("float64")
            yield out

    return df.mapInPandas(_predict, schema=out_schema)


def export_model(context: "Context", name: str, kwargs: dict) -> None:
    """Serialize a registered model (reference export_model.py:14-95).
    pickle/joblib supported; mlflow/onnx gated on availability."""
    schema = context.schemas[context.schema_name]
    if name not in schema.models:
        raise RuntimeError(f"Model {name} does not exist")
    model, _ = schema.models[name]
    fmt = str(kwargs.get("format", "pickle")).lower()
    location = kwargs.get("location", f"{name}.pkl")
    if fmt in ("pickle", "pkl"):
        with open(location, "wb") as f:
            pickle.dump(model, f)
    elif fmt == "joblib":
        try:
            import joblib
        except ImportError as e:  # pragma: no cover
            raise RuntimeError("joblib is not installed") from e
        joblib.dump(model, location)
    else:
        raise NotImplementedError(f"EXPORT MODEL format {fmt!r} not available here")


def describe_model(context: "Context", name: str) -> DataFrame:
    schema = context.schemas[context.schema_name]
    if name not in schema.models:
        raise RuntimeError(f"Model {name} does not exist")
    model, training_columns = schema.models[name]
    params: dict[str, Any] = {}
    if hasattr(model, "get_params"):
        params.update(model.get_params())
    params["training_columns"] = training_columns
    rows = [(str(k), str(v)) for k, v in sorted(params.items())]
    from dask_sql_spark.context import local_frame

    return local_frame(context.spark, rows, "Param: string, Value: string")
