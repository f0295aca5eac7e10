"""The query contract of `__spark_entry__`, one module per query family.

Each family module defines its queries as module-level functions, each
beside its DuckDB oracle SQL, and exports them as two plain dicts,
`QUERIES` and `ORACLES`, keyed by query name. `__spark_entry__` merges
them. `fixtures` holds the shared literals and input readers, `sql` the
SQL the oracles share (including the LOWER_SQL shim)."""
