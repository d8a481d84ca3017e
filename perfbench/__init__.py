"""The repository's benchmark harness; see perfbench/README.md."""
