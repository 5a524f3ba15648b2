"""polars_iptools_spark — a from-scratch PySpark-native engine with the
query/data-processing capabilities of ``erichutchins/polars_iptools``
(reference read-only at /root/reference), plus the record-linkage,
dedup, similarity and text-analysis operators a large-scale pipeline
needs.

Public API mirrors the reference's module surface
(/root/reference/polars_iptools/__init__.py): every function takes a
Column (or column name) and returns a Column, composing with the full
Spark DataFrame/SQL engine.
"""

from __future__ import annotations

from . import _pyworker  # noqa: F401  (first: patches zipimport in Python workers)
from . import schemas, types  # noqa: F401
from .functions import geoip, spur  # noqa: F401
from .functions import (  # noqa: F401
    extract_all_ips,
    extract_ips,
    extract_private_ips,
    extract_public_ips,
    ipv4_to_numeric,
    is_in,
    is_private,
    is_valid,
    numeric_to_ipv4,
    to_address,
    to_ipv4,
    to_string,
)
from .namespace import IpCol, ipcol  # noqa: F401
from .session import get_spark  # noqa: F401
from .sql import (  # noqa: F401
    column_sql,
    register_enrichment_sql_functions,
    register_sql_functions,
)

__version__ = "0.1.0"
