"""Role/tool lookup dimensions for broadcast-join enrichment (SURVEY §2.6).

The reference joins nothing; the north rule adds broadcast hash joins of
parsed turns against small lookup dims. One shared ``VALUES`` literal feeds
both the Spark relation and the DuckDB oracle CTE so enrich results are
value-identical. In Spark it is a local relation: the broadcast of a dim is
a ``LocalTableScan`` built in the JVM, where a ``createDataFrame`` dim would
run a Python-worker job (``Scan ExistingRDD``) every time it is broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

ROLE_DIM = [  # (role, role_group, is_agent)
    ("user", "human", False),
    ("assistant", "agent", True),
    ("system", "control", False),
    ("tool", "agent", True),
]

TOOL_DIM = [  # (tool, tool_family, is_side_effecting)
    ("bash", "shell", True),
    ("search", "retrieval", False),
    ("python", "runtime", True),
    ("browser", "web", False),
]


ROLE_COLUMNS = ["role", "role_group", "is_agent"]
TOOL_COLUMNS = ["tool", "tool_family", "is_side_effecting"]


def role_dim(spark: SparkSession) -> DataFrame:
    return spark.sql(_values_cte(ROLE_DIM, ROLE_COLUMNS))


def tool_dim(spark: SparkSession) -> DataFrame:
    return spark.sql(_values_cte(TOOL_DIM, TOOL_COLUMNS))


def _values_cte(rows, cols) -> str:
    def fmt(v):
        if isinstance(v, bool):
            return "true" if v else "false"
        return f"'{v}'"

    vals = ", ".join("(" + ", ".join(fmt(v) for v in r) + ")" for r in rows)
    return f"(SELECT * FROM (VALUES {vals}) AS t({', '.join(cols)}))"


def duckdb_role_dim_cte() -> str:
    return "role_dim AS " + _values_cte(ROLE_DIM, ROLE_COLUMNS)


def duckdb_tool_dim_cte() -> str:
    return "tool_dim AS " + _values_cte(TOOL_DIM, TOOL_COLUMNS)
