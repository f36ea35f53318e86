"""Standalone benchmark for the engine; see perfbench/README.md."""
