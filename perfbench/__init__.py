"""quality_filter benchmark: seeded workloads, output checks and layer traces."""
