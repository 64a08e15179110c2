"""Repository benchmark for driftmind_spark: see perfbench/README.md."""
