"""Registries backing the Context API: the schema namespace object
``SchemaContainer``. The reference also wraps every table in a
DataContainer/ColumnContainer pair to track SQL-name→backend-name column
mappings (datacontainer.py:14-231); Spark tracks column identity in Catalyst.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable


@dataclass
class Statistics:
    """Table statistics: the row count, as in the reference
    (datacontainer.py:174-188); only the user-facing API carrier."""

    row_count: float | None = None


@dataclass
class Aggregation:
    """A custom aggregation, tri-phase like the reference's
    ``dask.dataframe.Aggregation`` (registered at context.py:415-480):

    - ``chunk``: applied per partition (pandas Series → scalar)
    - ``agg``: combines chunk results (pandas Series of chunk outputs → scalar)
    - ``finalize``: optional final transform (scalar → scalar)

    PySpark's GROUPED_AGG pandas UDF has no partial/merge hook, so chunk
    runs over the whole group's series and agg over its one result: the same
    answer for any decomposable aggregation, without tree reduction (a Scala
    ``Aggregator`` would add it); per-group work is bounded by group size.
    """

    name: str
    chunk: Callable
    agg: Callable
    finalize: Callable | None = None

    def as_series_fn(self) -> Callable:
        """Collapse the tri-phase spec into a single pandas Series→scalar."""
        import pandas as pd

        chunk, agg, finalize = self.chunk, self.agg, self.finalize

        def fn(s):
            chunked = chunk(s)
            combined = agg(pd.Series([chunked]))
            return finalize(combined) if finalize is not None else combined

        return fn


@dataclass
class UDFInfo:
    name: str
    func: Callable
    parameters: list[tuple[str, Any]]
    return_type: Any
    row_udf: bool = False
    aggregation: bool = False


@dataclass
class Table:
    """A registered table. ``location``/``format`` are set only when it was
    read from a location string; ``superseded`` lists what VACUUM deletes."""

    df: Any
    location: str | None = None
    format: str | None = None
    statistics: Statistics | None = None
    superseded: list[str] = field(default_factory=list)


@dataclass
class SchemaContainer:
    """One SQL schema namespace (reference datacontainer.py:281-291): one
    ``Table`` record per table name, and functions, models and experiments."""

    name: str
    tables: dict[str, Table] = field(default_factory=dict)
    functions: dict[str, UDFInfo] = field(default_factory=dict)
    models: dict[str, tuple[Any, list[str]]] = field(default_factory=dict)
    experiments: dict[str, Any] = field(default_factory=dict)
