"""Repository benchmark: seeded closed-loop workloads over the engine's
public API, with an optional traced run for per-layer metrics.  See
``perfbench/README.md``."""
