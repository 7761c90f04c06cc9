"""CDC benchmark: workloads, tracing and correctness checks (see README.md)."""
