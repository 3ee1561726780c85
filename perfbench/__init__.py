"""Repository benchmark for the near-dedupe pipeline (see perfbench/README.md)."""
