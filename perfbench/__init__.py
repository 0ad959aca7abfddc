"""Self-checking benchmark for clp_spark (see perfbench/DESIGN.md)."""
