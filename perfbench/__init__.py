"""Served-path benchmark for gizmosql-spark (see perfbench/README.md)."""
