from .parquet import (
    TABLES,
    parquet_schema,
    read_parquet,
    read_table,
    read_tables,
    register_tables,
    spread,
)
from .writers import (
    SchemaContractError,
    assert_schema_contract,
    merge_upsert,
    write_partitioned,
)

__all__ = [
    "TABLES",
    "parquet_schema",
    "read_parquet",
    "read_table",
    "read_tables",
    "register_tables",
    "spread",
    "SchemaContractError",
    "assert_schema_contract",
    "merge_upsert",
    "write_partitioned",
]
