"""The repository's benchmark: seeded workloads over the library's
public API, with end-to-end and per-layer metrics (see WORKLOADS.md)."""
