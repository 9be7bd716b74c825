"""Product read endpoints — SURVEY.md §2 ops 15-17.

Each function reproduces one reference endpoint's exact semantics
(/root/reference/app/api/main.py:130-184) over the product table.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def find_by_code(products: DataFrame, code: str) -> DataFrame:
    """Point lookup by primary key (api/main.py:130-144). Returns 0-or-1
    rows (uniqueness is by construction of the merge). Parquet min/max
    stats + optional bucketing make this IO-skipping at scale."""
    return products.filter(F.col("code") == F.lit(code)).limit(1)


def find_name_partial(products: DataFrame, term: str) -> DataFrame:
    """Case-insensitive regex-contains search, top-20, arbitrary order
    (api/main.py:147-167). Fidelity detail: the reference interpolates the
    user term into ``.*term.*`` unescaped, so regex metacharacters are
    live — ``rlike`` reproduces that, including the injection quirk."""
    # (?u) — Java regex case-insensitivity is ASCII-only by default, while
    # Mongo's $options:"i" folds Unicode (Café ~ café); match Mongo.
    return products.filter(
        F.col("product_name").rlike(f"(?ius).*{term}.*")
    ).limit(20)


def find_name_partial_safe(products: DataFrame, term: str) -> DataFrame:
    """The engine-recommended variant: literal substring, case-insensitive
    (what the reference *intended*); metacharacters are inert."""
    return products.filter(
        F.lower(F.col("product_name")).contains(term.lower())
    ).limit(20)


def find_name_exact(products: DataFrame, term: str) -> DataFrame:
    """Exact match, case-sensitive, **no limit** — replicates the code, not
    the docstring (api/main.py:170-184 claims 20 but never calls .limit)."""
    return products.filter(F.col("product_name") == F.lit(term))
