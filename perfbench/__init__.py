"""Repository benchmark: seeded workloads, tracing and result checks."""
