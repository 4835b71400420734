"""sgbench: the sparkgrep benchmark (see README.md)."""
